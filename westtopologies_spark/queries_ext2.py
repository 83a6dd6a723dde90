"""Second catalog-extension batch (round 2): classic star-join /
predicate-pushdown SQL shapes the first batch did not cover (TPC-H
Q7/Q10/Q14/Q19 analogues, explicit GROUPING SETS), plus
training-pipeline operators over the documents/embeddings tables
(Johnson-Lindenstrauss random projection, chi-square term-class
association, feature hashing, prefix-canonical keep-best dedup,
hourly top-k heavy hitters), then the later round-2 batches:
Q8 market share, seasonality, Z-order locality, held-out LM eval,
perceptual-hash multimodal dedup, CDC apply, sliding windows,
grid-cell spatial join, grouped OLS trend, and exact ROC-AUC.

Same oracle discipline as :mod:`.queries_ext`: money sums fold as
DECIMAL before the final DOUBLE cast, double folds are left-fold
identical on both engines, ``row_number``/``year`` results are cast
to INT on the DuckDB side (they are BIGINT there, INT in Spark), and
every computed column is aliased identically in both plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries import _as_scaled_int, _register, _scaled_int_sql, _t
from .queries_scale import _TOKS_CHAR_CTE
from .scale import constants as C

# ---------------------------------------------------------------------------
# TPC-H Q10 shape: returned-item revenue by customer
# ---------------------------------------------------------------------------

_REV_DEC = "CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))"


@_register(
    "sq_returned_revenue",
    f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(sum({_REV_DEC}) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c_custkey ASC LIMIT 20
    """,
    doc="TPC-H Q10 shape (returned-item report): 4-table star join "
    "where the quarter predicate prunes the orders scan, the "
    "returnflag predicate prunes lineitem, and the 25-row nation dim "
    "broadcasts; top-20 is a TakeOrdered with a DECIMAL-exact sort "
    "key. Relational extension.",
    scaled={"revenue": 4},
)
def sq_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-04-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q7 shape: bilateral volume shipping between two nations
# ---------------------------------------------------------------------------

VOLUME_NATIONS = ("NATION_1", "NATION_2")


@_register(
    "sq_volume_shipping",
    f"""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           CAST(sum({_REV_DEC}) AS DOUBLE) AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation ns ON s.s_nationkey = ns.n_nationkey
    JOIN nation nc ON c.c_nationkey = nc.n_nationkey
    WHERE (ns.n_name = '{VOLUME_NATIONS[0]}' AND nc.n_name = '{VOLUME_NATIONS[1]}')
       OR (ns.n_name = '{VOLUME_NATIONS[1]}' AND nc.n_name = '{VOLUME_NATIONS[0]}')
    GROUP BY 1, 2, 3
    """,
    doc="TPC-H Q7 shape (bilateral shipping volume): 6-table join "
    "where BOTH nation dims broadcast and the disjunctive nation "
    "pair predicate runs after them — Catalyst keeps the big "
    "lineitem-orders join as the only shuffle pair. Relational "
    "extension.",
    scaled={"revenue": 4},
)
def sq_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    ns = nat.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = nat.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    a, b = VOLUME_NATIONS
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        s.join(li, s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .filter(
            ((F.col("supp_nation") == a) & (F.col("cust_nation") == b))
            | ((F.col("supp_nation") == b) & (F.col("cust_nation") == a))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q14 shape: promo revenue share
# ---------------------------------------------------------------------------


@_register(
    "sq_promo_revenue",
    f"""
    SELECT 100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                            THEN {_REV_DEC}
                            ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                 / CAST(sum({_REV_DEC}) AS DOUBLE) AS promo_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
      AND l.l_shipdate < TIMESTAMP '1997-10-01'
    """,
    doc="TPC-H Q14 shape (promo revenue share): conditional "
    "aggregation over a fact-dim join — both sums fold as exact "
    "DECIMAL so the final ratio is order-independent; the month "
    "predicate pushes into the lineitem scan and the part dim "
    "broadcasts. Relational extension.",
    # r5 tie sweep (rule 16): raw bit-identical double, portable half-up
    scaled={"promo_pct": 6},
    portable=True,
)
def sq_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-09-01")
        & (F.col("l_shipdate") < "1997-10-01")
    )
    p = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            # raw shared tree over DECIMAL-exact sums; portable wrap
            # (rule 16 — builtin round(x,6) flips at representable ties)
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_pct")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q19 shape: disjunctive brand/size/quantity bands
# ---------------------------------------------------------------------------


@_register(
    "sq_price_bands",
    f"""
    SELECT CAST(sum({_REV_DEC}) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 10)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity >= 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity >= 30)
    """,
    doc="TPC-H Q19 shape (disjunctive band predicates): OR-of-ANDs "
    "across both join sides — Catalyst extracts the common "
    "brand/size disjunction onto the part scan and the quantity "
    "disjunction onto lineitem before the broadcast join, so neither "
    "side scans full. Relational extension.",
    scaled={"revenue": 4},
)
def sq_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    band = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & (F.col("l_quantity") >= 10)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & (F.col("l_quantity") >= 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 50)
            & (F.col("l_quantity") >= 30)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(band)
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# explicit GROUPING SETS (arbitrary lattice, not the rollup/cube chain)
# ---------------------------------------------------------------------------


@_register(
    "gs_grouping_sets",
    """
    SELECT n.n_name, o.o_orderpriority,
           CAST(grouping(n.n_name) * 2 + grouping(o.o_orderpriority) AS BIGINT)
             AS lvl,
           count(*) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY GROUPING SETS ((n.n_name), (o.o_orderpriority), ())
    """,
    doc="Explicit GROUPING SETS ((nation), (priority), ()) — the "
    "arbitrary-lattice surface rollup/cube cannot express (no "
    "(nation, priority) cell): one Expand pass, 3 output grids, "
    "map-side partial agg; nation broadcasts into the orders join. "
    "Aggregation extension.",
    scaled={"sum_price": 2},
)
def gs_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    joined = o.join(c, c.c_custkey == o.o_custkey).join(
        F.broadcast(n), n.n_nationkey == c.c_nationkey
    )
    joined.createOrReplaceTempView("_gs2_joined")
    return joined.sparkSession.sql(
        """
        SELECT n_name, o_orderpriority,
               CAST(grouping(n_name) * 2 + grouping(o_orderpriority) AS BIGINT)
                 AS lvl,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
        FROM _gs2_joined
        GROUP BY GROUPING SETS ((n_name), (o_orderpriority), ())
        """
    )


# ---------------------------------------------------------------------------
# hourly top-k heavy hitters (windowed rank over time buckets)
# ---------------------------------------------------------------------------

TOPK_HOURLY_K = 3


@_register(
    "ts_topk_hourly",
    f"""
    WITH hourly AS (
      SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT))
                  AS TIMESTAMP) AS bucket_hour,
             event_type, count(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT bucket_hour, event_type, n_events, rnk FROM (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY bucket_hour
               ORDER BY n_events DESC, event_type ASC) AS INT) AS rnk
      FROM hourly)
    WHERE rnk <= {TOPK_HOURLY_K}
    """,
    doc="Hourly top-k heavy hitters: tumbling-hour rollup then a "
    "rank-within-bucket window — the partial-agg shuffle reduces to "
    "|hours|x|types| rows BEFORE the sort, so the window never sees "
    "raw events; deterministic tiebreak on the type name. Temporal "
    "extension (generalizes A6/A7's per-window counts to top-k).",
)
def ts_topk_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            F.timestamp_seconds(
                (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("long")
            ).alias("bucket_hour"),
            "event_type",
        ).agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = Window.partitionBy("bucket_hour").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        hourly.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK_HOURLY_K)
        .select("bucket_hour", "event_type", "n_events", "rnk")
    )


# ---------------------------------------------------------------------------
# prefix-canonical keep-best dedup (arg-max representative per group)
# ---------------------------------------------------------------------------

KEEP_BEST_PREFIX = 100


@_register(
    "dd_keep_best",
    f"""
    WITH g AS (
      SELECT doc_id, n_chars,
             substr(regexp_replace(lower(text), '\\s+', ' ', 'g'),
                    1, {KEEP_BEST_PREFIX}) AS prefix
      FROM documents
    ),
    r AS (
      SELECT doc_id, n_chars, prefix,
             CAST(row_number() OVER (
               PARTITION BY prefix
               ORDER BY n_chars DESC, doc_id ASC) AS INT) AS rn,
             count(*) OVER (PARTITION BY prefix) AS n_copies
      FROM g
    )
    SELECT doc_id AS keep_id, n_chars AS keep_chars, n_copies
    FROM r WHERE rn = 1 AND n_copies > 1
    """,
    doc="Keep-best canonicalization over prefix-duplicate groups: "
    "group docs by their normalized leading "
    f"{KEEP_BEST_PREFIX} chars and keep the LONGEST member "
    "(tiebreak min id) — the 'retain the superset copy' policy exact "
    "dedup's min-id rule gets wrong when crawls truncate; one keyed "
    "window, no joins. Scale extension.",
)
def dd_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    prefix = F.substring(
        F.regexp_replace(F.lower("text"), r"\s+", " "), 1, KEEP_BEST_PREFIX
    )
    w = Window.partitionBy("prefix").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    wc = Window.partitionBy("prefix")
    return (
        docs.select("doc_id", "n_chars", prefix.alias("prefix"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(wc))
        .filter((F.col("rn") == 1) & (F.col("n_copies") > 1))
        .select(
            F.col("doc_id").alias("keep_id"),
            F.col("n_chars").alias("keep_chars"),
            "n_copies",
        )
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (64 -> 16 dims)
# ---------------------------------------------------------------------------

JL_IN_DIM = 64
JL_OUT_DIM = 16
# deterministic +-1 projection matrix: parity of an integer hash of
# (i, j) — odd modulus first so the multiplier parity does not leak
_JL_A, _JL_B, _JL_M = 1_000_003, 7_919, 104_729


def _jl_sign_sql(i: str, j: str) -> str:
    return (
        f"(CASE WHEN (({i} * {_JL_A} + {j} * {_JL_B}) % {_JL_M}) % 2 = 0 "
        "THEN 1.0 ELSE -1.0 END)"
    )


@_register(
    "emb_random_projection",
    _scaled_int_sql(
        f"""
    SELECT vec_id, CAST(j AS INT) AS dim,
           round(list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(range(0, {JL_IN_DIM}),
               i -> embedding[i + 1]::DOUBLE * {_jl_sign_sql('i', 'j')})),
             (a, b) -> a + b) / {float(JL_OUT_DIM) ** 0.5}, 4) + 0.0 AS proj
    FROM embeddings, range(0, {JL_OUT_DIM}) t(j)
    """,
        ["vec_id", "dim"],
        {"proj": 4},
    ),
    doc="Johnson-Lindenstrauss random projection 64->16 dims with a "
    "deterministic +-1 sign matrix (integer-hash parity): a pure "
    "per-row expression — no shuffle, no model state, the standard "
    "cheap pre-reduction in front of ANN/clustering at corpus scale. "
    "The left-fold sum is IEEE-identical on both engines. Embedding "
    "extension.",
)
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    scale = float(JL_OUT_DIM) ** 0.5

    def sign(i, j: int):
        h = ((i * _JL_A + F.lit(j) * _JL_B) % _JL_M) % 2
        return F.when(h == 0, F.lit(1.0)).otherwise(F.lit(-1.0))

    def proj(j: int):
        # `+ 0.0` canonicalizes IEEE negative zero: a tiny negative
        # sum rounds to -0.0 in DuckDB but +0.0 in Spark, and the
        # driver's value hash distinguishes them
        return (
            F.round(
                F.aggregate(
                    F.sequence(F.lit(0), F.lit(JL_IN_DIM - 1)),
                    F.lit(0.0),
                    lambda acc, i: acc
                    + F.element_at("embedding", i + 1).cast("double")
                    * sign(i, j),
                )
                / scale,
                4,
            )
            + 0.0
        )

    return _as_scaled_int(
        emb.select(
            "vec_id",
            F.posexplode(
                F.array(*[proj(j) for j in range(JL_OUT_DIM)])
            ).alias("dim", "proj"),
        ),
        {"proj": 4},
    )


# ---------------------------------------------------------------------------
# chi-square term-class association (feature selection)
# ---------------------------------------------------------------------------

CHI2_MIN_COUNT = 50
CHI2_TOP_K = 5


@_register(
    "tx_chi2_terms",
    f"""
    WITH tok AS (
      SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z]+', 0)) AS token
      FROM documents
    ),
    cnt AS (SELECT lang, token, count(*) AS a FROM tok GROUP BY 1, 2),
    tot_tok AS (SELECT token, sum(a) AS ta FROM cnt GROUP BY 1),
    tot_lang AS (SELECT lang, sum(a) AS tl FROM cnt GROUP BY 1),
    n AS (SELECT sum(a) AS nn FROM cnt),
    scored AS (
      SELECT cnt.lang, cnt.token,
             round(CAST(nn AS DOUBLE)
                   * pow(CAST(a * (nn - ta - tl + a) - (ta - a) * (tl - a)
                              AS DOUBLE), 2)
                   / (CAST(ta AS DOUBLE) * CAST(nn - ta AS DOUBLE)
                      * CAST(tl AS DOUBLE) * CAST(nn - tl AS DOUBLE)),
                   4) AS chi2
      FROM cnt
      JOIN tot_tok USING (token)
      JOIN tot_lang USING (lang)
      CROSS JOIN n
      WHERE ta >= {CHI2_MIN_COUNT}
    )
    SELECT lang, token,
           CAST(round(chi2 * 10000) AS BIGINT) AS chi2_x1e4, rnk FROM (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY lang ORDER BY chi2 DESC, token ASC) AS INT) AS rnk
      FROM scored)
    WHERE rnk <= {CHI2_TOP_K}
    """,
    doc="Chi-square term-class association (top-5 most "
    "lang-discriminative tokens per language): the classic "
    "feature-selection screen. Contingency cells stay exact BIGINT "
    "until one final double expression per (lang, token); three "
    "partial-agg shuffles (term counts, marginals) + a broadcast of "
    "the tiny marginal tables; ranking sees |langs|x|vocab| rows, "
    "never token instances. Text-analysis extension.",
)
def tx_chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "lang",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("token"),
    )
    cnt = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("a"))
    tot_tok = cnt.groupBy("token").agg(F.sum("a").alias("ta"))
    tot_lang = cnt.groupBy("lang").agg(F.sum("a").alias("tl"))
    n = cnt.agg(F.sum("a").alias("nn"))
    a, ta, tl, nn = F.col("a"), F.col("ta"), F.col("tl"), F.col("nn")
    d = nn - ta - tl + a
    chi2 = F.round(
        nn.cast("double")
        * F.pow((a * d - (ta - a) * (tl - a)).cast("double"), 2)
        / (
            ta.cast("double")
            * (nn - ta).cast("double")
            * tl.cast("double")
            * (nn - tl).cast("double")
        ),
        4,
    )
    scored = (
        cnt.join(tot_tok, "token")
        .join(F.broadcast(tot_lang), "lang")
        .crossJoin(F.broadcast(n))
        .filter(ta >= CHI2_MIN_COUNT)
        .select("lang", "token", chi2.alias("chi2"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("chi2"), F.asc("token"))
    return _as_scaled_int(
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= CHI2_TOP_K)
        .select("lang", "token", "chi2", "rnk"),
        {"chi2": 4},
    )


# ---------------------------------------------------------------------------
# feature hashing (hashing trick) into fixed buckets
# ---------------------------------------------------------------------------

HASH_FEATURE_BUCKETS = 32


@_register(
    "tx_hash_features",
    f"""
    WITH {_TOKS_CHAR_CTE.strip()}
    SELECT doc_id, CAST(tid % {HASH_FEATURE_BUCKETS} AS INT) AS bucket,
           count(*) AS cnt
    FROM tok_ids GROUP BY 1, 2
    """,
    doc="Feature hashing (hashing trick): every token folds into one "
    f"of {HASH_FEATURE_BUCKETS} buckets via the shared "
    "engine-independent char hash — the fixed-width sparse count "
    "vector a downstream linear model trains on without any "
    "vocabulary build or broadcast; pure map + one partial-agg "
    "shuffle. Text-analysis extension.",
)
def tx_hash_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scale import dedup

    toks = dedup.tokens_with_ids(_t(spark, sf_dir, "documents"))
    return (
        toks.withColumn(
            "bucket", F.pmod("tid", F.lit(HASH_FEATURE_BUCKETS)).cast("int")
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) interleave: multi-dimensional clustering key
# ---------------------------------------------------------------------------

_Z_BITS = 10  # 10+10 bits -> 20-bit Morton key
_Z_BUCKET_SHIFT = 14  # bucket = zkey >> 14: 64 coarse cells


def _z_terms(x: str, y: str, shift_op) -> str:
    terms = []
    for b in range(_Z_BITS):
        terms.append(f"({shift_op(x, b)} & 1) * {1 << (2 * b)}")
        terms.append(f"({shift_op(y, b)} & 1) * {1 << (2 * b + 1)}")
    return " + ".join(terms)


@_register(
    "dv_zorder_locality",
    f"""
    WITH k AS (
      SELECT event_id,
             CAST(user_id % {1 << _Z_BITS} AS BIGINT) AS x,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) % {1 << _Z_BITS} AS y
      FROM events
    ),
    z AS (
      SELECT event_id, x, y,
             {_z_terms('x', 'y', lambda c, b: f'({c} >> {b})')} AS zkey
      FROM k
    )
    SELECT CAST(zkey >> {_Z_BUCKET_SHIFT} AS BIGINT) AS zbucket,
           count(*) AS n_events,
           min(x) AS x_min, max(x) AS x_max,
           min(y) AS y_min, max(y) AS y_max
    FROM z GROUP BY 1
    """,
    doc="Z-order (Morton) clustering key: bit-interleave of "
    "(user bucket, hour bucket) — sorting/range-partitioning the "
    "table by zkey before writing makes every file's min/max "
    "footer stats bound a tight rectangle in BOTH dimensions, so "
    "2-D predicates (user range x time range) prune files that a "
    "1-D sort can only prune on its leading column. The query "
    "reports per-z-bucket bounding boxes — the pruning-efficacy "
    "audit itself; pure expression, one partial-agg shuffle. "
    "Layout extension (pairs with scale.layout.write_bucketed).",
)
def dv_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = ev.select(
        "event_id",
        (F.col("user_id") % (1 << _Z_BITS)).cast("bigint").alias("x"),
        (
            F.floor(F.unix_timestamp("ts") / 3600).cast("bigint")
            % (1 << _Z_BITS)
        ).alias("y"),
    )
    zkey = F.expr(_z_terms("x", "y", lambda c, b: f"shiftright({c}, {b})"))
    return (
        k.withColumn("zkey", zkey)
        .groupBy(
            F.shiftright("zkey", _Z_BUCKET_SHIFT).cast("bigint").alias("zbucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
    )


# ---------------------------------------------------------------------------
# held-out LM evaluation: train/eval split, Laplace unigram NLL
# ---------------------------------------------------------------------------

HELDOUT_MOD = 10
HELDOUT_TRAIN_LT = 8  # doc_id % 10 < 8 trains, >= 8 evaluates


@_register(
    "tx_heldout_nll",
    _scaled_int_sql(
        f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+', 0)) AS token
      FROM documents
    ),
    train AS (SELECT token FROM tok WHERE doc_id % {HELDOUT_MOD} < {HELDOUT_TRAIN_LT}),
    c AS (SELECT token, count(*) AS cw FROM train GROUP BY 1),
    tv AS (SELECT count(*) AS tt, count(DISTINCT token) AS vv FROM train),
    held AS (
      SELECT doc_id, token, count(*) AS cnt FROM tok
      WHERE doc_id % {HELDOUT_MOD} >= {HELDOUT_TRAIN_LT} GROUP BY 1, 2
    )
    SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
           round(CAST(sum(CAST(cnt * -ln((coalesce(cw, 0) + 1.0) / (tt + vv))
                               AS DECIMAL(27,12))) AS DOUBLE)
                 / sum(cnt), 6) AS mean_nll
    FROM held LEFT JOIN c USING (token) CROSS JOIN tv
    GROUP BY doc_id
    """,
        ["doc_id", "n_tokens"],
        {"mean_nll": 6},
    ),
    doc="Held-out language-model evaluation: Laplace-smoothed unigram "
    "LM fit on the deterministic 80% train split, per-document mean "
    "negative log-likelihood on the 20% eval split — the "
    "contamination-free eval loop every data-curation run needs "
    "(unlike tx_unigram_lm, which scores the training corpus "
    "itself). OOV mass is handled by the +1 smoothing, per-term "
    "products fold as DECIMAL(27,12) so the mean is "
    "aggregation-order-independent. Text-analysis extension.",
)
def tx_heldout_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("token"),
    )
    train = tok.filter(
        F.col("doc_id") % HELDOUT_MOD < HELDOUT_TRAIN_LT
    ).select("token")
    c = train.groupBy("token").agg(F.count(F.lit(1)).alias("cw"))
    tv = train.agg(
        F.count(F.lit(1)).alias("tt"),
        F.countDistinct("token").alias("vv"),
    )
    held = (
        tok.filter(F.col("doc_id") % HELDOUT_MOD >= HELDOUT_TRAIN_LT)
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    term = (
        F.col("cnt")
        * -F.log(
            (F.coalesce(F.col("cw"), F.lit(0)) + 1.0)
            / (F.col("tt") + F.col("vv"))
        )
    ).cast("decimal(27,12)")
    return _as_scaled_int(
        held.join(c, "token", "left")
        .crossJoin(F.broadcast(tv))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.round(
                F.sum(term).cast("double") / F.sum("cnt"), 6
            ).alias("mean_nll"),
        ),
        {"mean_nll": 6},
    )


# ---------------------------------------------------------------------------
# TPC-H Q8 shape: nation market share within a region
# ---------------------------------------------------------------------------

MARKET_NATION = "NATION_3"
MARKET_REGION = "ASIA"


@_register(
    "sq_market_share",
    f"""
    WITH flows AS (
      SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
             {_REV_DEC} AS rev,
             ns.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation nc ON nc.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = nc.n_regionkey
      JOIN nation ns ON ns.n_nationkey = s.s_nationkey
      WHERE r.r_name = '{MARKET_REGION}' AND p.p_type = 'STANDARD'
    )
    SELECT o_year,
           CAST(round(
             CAST(sum(CASE WHEN supp_nation = '{MARKET_NATION}'
                      THEN rev ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(sum(rev) AS DOUBLE), 6) AS DOUBLE) AS mkt_share
    FROM flows GROUP BY 1
    """,
    doc="TPC-H Q8 shape (national market share): 7-table join tree — "
    "region->nation->customer chains as stacked broadcasts, part "
    "prunes lineitem through the join, and the share ratio folds "
    "both sums as exact DECIMAL per year. The deepest join tree in "
    "the catalog; Catalyst orders it without hints. Relational "
    "extension.",
    # r5 tie sweep (rule 16): raw bit-identical double, portable half-up
    scaled={"mkt_share": 6},
    portable=True,
)
def sq_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == MARKET_REGION)
    nc = nat.select(
        F.col("n_nationkey").alias("nc_key"),
        F.col("n_regionkey").alias("nc_region"),
    )
    ns = nat.select(
        F.col("n_nationkey").alias("ns_key"),
        F.col("n_name").alias("supp_nation"),
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    nation_rev = F.when(
        F.col("supp_nation") == MARKET_NATION, F.col("rev")
    ).otherwise(F.lit(0).cast("decimal(18,4)"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(s, s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("nc_region"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            rev.alias("rev"),
            "supp_nation",
        )
        .groupBy("o_year")
        .agg(
            # raw shared tree over DECIMAL-exact sums; portable wrap
            # (rule 16)
            (
                F.sum(nation_rev).cast("double")
                / F.sum("rev").cast("double")
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# seasonality profile: day-of-week x hour-of-day activity matrix
# ---------------------------------------------------------------------------


@_register(
    "ts_seasonality",
    """
    SELECT CAST(isodow(ts) AS INT) AS dow,
           CAST(hour(ts) AS INT) AS hod,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                      / count(*) AS avg_value
    FROM events GROUP BY 1, 2
    """,
    doc="Seasonality profile: (ISO weekday x hour-of-day) activity "
    "matrix with exact-DECIMAL mean value — the periodic-load "
    "fingerprint behind capacity planning and anomaly baselines; "
    "one partial-agg shuffle to a 7x24-bounded result. Temporal "
    "extension.",
    # r5 tie sweep (rule 16): raw bit-identical double, portable half-up
    scaled={"avg_value": 6},
    portable=True,
)
def ts_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # Spark weekday(): 0=Mon..6=Sun; +1 == DuckDB isodow (Mon=1..Sun=7)
    return ev.groupBy(
        F.expr("CAST(weekday(ts) + 1 AS INT)").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        # raw DECIMAL-exact mean; portable wrap (rule 16)
        (
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# multimodal perceptual-hash signatures + band-candidate degree
# ---------------------------------------------------------------------------


def _phash_sql() -> str:
    from .scale import multimodal as MM

    nb, bands = MM.PHASH_BITS, MM.PHASH_BANDS
    w = nb // bands
    lsum = "list_reduce(list_prepend(0::BIGINT, {v}), (a, b) -> a + b)"
    blk = (
        f"codes[CAST((j * L) // {nb} AS BIGINT) + 1 : "
        f"CAST(((j + 1) * L) // {nb} AS BIGINT)]"
    )
    blen = f"(((j + 1) * L) // {nb} - (j * L) // {nb})"
    return f"""
    WITH base AS (
      SELECT doc_id,
             list_transform(string_split(text, ''), ch -> ascii(ch)) AS codes
      FROM documents
    ),
    meta AS (
      SELECT doc_id, codes, len(codes) AS L,
             {lsum.format(v='codes')} AS total
      FROM base
    ),
    bits AS (
      SELECT doc_id,
             list_transform(range(0, {nb}), j ->
               CASE WHEN {blen} > 0
                     AND {lsum.format(v=blk)} * L >= total * {blen}
                    THEN 1 ELSE 0 END) AS bits
      FROM meta
    ),
    sigs AS (
      SELECT doc_id,
             list_transform(range(0, {bands}), b ->
               list_reduce(list_prepend(0::BIGINT,
                 bits[b * {w} + 1 : (b + 1) * {w}]),
                 (a, x) -> a * 2 + x)) AS bands
      FROM bits
    ),
    bandrows AS (
      SELECT doc_id, j AS b, bands[j + 1] AS v
      FROM sigs, range(0, {bands}) t(j)
    ),
    cand AS (
      SELECT a.doc_id AS doc_id, count(DISTINCT b.doc_id) AS n_band_matches
      FROM bandrows a JOIN bandrows b
        ON a.b = b.b AND a.v = b.v AND a.doc_id != b.doc_id
      GROUP BY 1
    )
    SELECT s.doc_id,
           array_to_string(list_transform(s.bands,
             x -> CAST(x AS VARCHAR)), '-') AS sig,
           coalesce(c.n_band_matches, 0) AS n_band_matches
    FROM sigs s LEFT JOIN cand c ON c.doc_id = s.doc_id
    """


@_register(
    "mm_phash",
    _phash_sql(),
    doc="Multimodal perceptual block-hash dedup front-end: a 64-bit "
    "aHash-analog signature per payload (integer cross-multiply mean "
    "compare — exact arithmetic end to end), computed in ONE "
    "Arrow-batched numpy pass (prefix sums, no per-block re-decode) "
    "and packed into 4 16-bit LSH bands (65536 buckets/band keeps "
    "band-collision fan-out sub-quadratic at corpus scale — VERDICT "
    "r2 #4), plus each doc's band-collision degree (count of other "
    "docs sharing any band) — the candidate-generation statistic of "
    "image dedup, computed without ever comparing payloads pairwise; "
    "the codec decode is the container-stubbed step, everything "
    "Spark-side is the production shape. Multimodal extension.",
)
def mm_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scale import multimodal as MM

    b = MM.as_binary_docs(_t(spark, sf_dir, "documents"))
    # the signatures feed both sides of the band self-join (sf0.1
    # A/B: +55% without the pin)
    sigs = MM.block_hash_signatures(b).localCheckpoint(eager=False)
    bandrows = sigs.select(
        "doc_id", F.posexplode("bands").alias("b", "v")
    )
    other = bandrows.select(
        F.col("doc_id").alias("doc_b"),
        F.col("b").alias("bb"),
        F.col("v").alias("vb"),
    )
    cand = (
        bandrows.join(
            other,
            (F.col("b") == F.col("bb"))
            & (F.col("v") == F.col("vb"))
            & (F.col("doc_id") != F.col("doc_b")),
        )
        .groupBy("doc_id")
        .agg(F.countDistinct("doc_b").alias("n_band_matches"))
    )
    return (
        sigs.join(cand, "doc_id", "left")
        .select(
            "doc_id",
            F.concat_ws(
                "-", F.transform("bands", lambda x: x.cast("string"))
            ).alias("sig"),
            F.coalesce("n_band_matches", F.lit(0)).alias("n_band_matches"),
        )
    )


# ---------------------------------------------------------------------------
# CDC apply: changelog -> final table state
# ---------------------------------------------------------------------------


@_register(
    "dv_cdc_apply",
    """
    WITH log AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
      FROM events
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_ops
      FROM log
    )
    SELECT user_id,
           CAST(round(CAST(value AS DECIMAL(18,2)), 2) AS DOUBLE)
             AS last_value,
           ts AS last_ts, n_ops
    FROM ranked WHERE rn = 1 AND op = 'U'
    """,
    doc="CDC apply (changelog -> final state): the events stream read "
    "as an upsert/delete log (errors are tombstones); one keyed "
    "window picks each key's latest op by (ts, seq), keys whose last "
    "op is a delete drop out — the MERGE/compaction kernel of every "
    "lakehouse table format, as a pure window (no join against a "
    "base: the log IS the table, the incremental variant is "
    "dv_incremental_rollup's partial-merge shape). Versioning "
    "extension.",
    # raw passthrough, but never driver-checked and window-eligible —
    # zero-doubt beats the passthrough precedent for window entrants
    scaled={"last_value": 2},
)
def dv_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    log = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    wc = Window.partitionBy("user_id")
    return (
        log.withColumn("rn", F.row_number().over(w))
        .withColumn("n_ops", F.count(F.lit(1)).over(wc))
        .filter((F.col("rn") == 1) & (F.col("op") == "U"))
        .select(
            "user_id",
            F.round(F.col("value").cast("decimal(18,2)"), 2)
            .cast("double")
            .alias("last_value"),
            F.col("ts").alias("last_ts"),
            "n_ops",
        )
    )


# ---------------------------------------------------------------------------
# sliding (overlapping) window rollup
# ---------------------------------------------------------------------------

SLIDE_LEN_S = 1800  # 30-minute window ...
SLIDE_STEP_S = 600  # ... sliding every 10 minutes


@_register(
    "ts_sliding_rollup",
    f"""
    WITH e AS (
      SELECT event_type,
             CAST(value AS DECIMAL(18,2)) AS v,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec
      FROM events
    ),
    hits AS (
      SELECT event_type, v, sec,
             (sec // {SLIDE_STEP_S} - k) * {SLIDE_STEP_S} AS win_start_s
      FROM e, range(0, {SLIDE_LEN_S // SLIDE_STEP_S}) t(k)
      WHERE (sec // {SLIDE_STEP_S} - k) * {SLIDE_STEP_S} <= sec
        AND sec < (sec // {SLIDE_STEP_S} - k) * {SLIDE_STEP_S} + {SLIDE_LEN_S}
    )
    SELECT CAST(to_timestamp(win_start_s) AS TIMESTAMP) AS window_start,
           event_type, count(*) AS n_events,
           CAST(sum(v) AS DOUBLE) AS sum_value
    FROM hits GROUP BY 1, 2
    """,
    doc="Sliding-window rollup (30-min window, 10-min slide): Spark's "
    "built-in window(slideDuration) Expand — each event lands in "
    "exactly 3 overlapping windows, expanded BEFORE the partial agg "
    "so the shuffle carries aggregates, not replicated events; the "
    "oracle replays the expansion with an explicit 3-row range join. "
    "The reference's tumbling W1 cannot express overlap at all. "
    "Temporal extension.",
    scaled={"sum_value": 2},
)
def ts_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window(
                "ts", f"{SLIDE_LEN_S} seconds", f"{SLIDE_STEP_S} seconds"
            ).alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# grid-cell spatial proximity join
# ---------------------------------------------------------------------------

GEO_RADIUS = 2.0  # degrees; also the grid cell size


@_register(
    "j12_geo_cell_join",
    f"""
    WITH pts AS (
      SELECT event_id, (value % 180) - 90 AS lat,
             (CAST(user_id AS DOUBLE) % 360) - 180 AS lon
      FROM events WHERE event_id % 7 = 0
    ),
    cells AS (
      SELECT *, CAST(floor(lat / {GEO_RADIUS}) AS BIGINT) AS cy,
             CAST(floor(lon / {GEO_RADIUS}) AS BIGINT) AS cx
      FROM pts
    ),
    probe AS (
      SELECT event_id, lat, lon, cy + dy AS ny, cx + dx AS nx
      FROM cells, range(-1, 2) a(dy), range(-1, 2) b(dx)
    )
    SELECT p.event_id AS id_a, c.event_id AS id_b,
           sqrt((p.lat - c.lat) * (p.lat - c.lat)
                + (p.lon - c.lon) * (p.lon - c.lon)) AS dist
    FROM probe p JOIN cells c ON p.ny = c.cy AND p.nx = c.cx
     AND p.event_id < c.event_id
    WHERE (p.lat - c.lat) * (p.lat - c.lat)
          + (p.lon - c.lon) * (p.lon - c.lon)
          <= {GEO_RADIUS} * {GEO_RADIUS}
    """,
    doc="Grid-cell spatial proximity join (all point pairs within "
    f"{GEO_RADIUS} deg): each left point probes its 3x3 neighbor "
    "cells against right points' HOME cell — an equi-join on cell "
    "ids, never an all-pairs product, the grid-file pattern every "
    "distributed spatial join uses (cell size = radius guarantees "
    "no missed pair). Coordinates derive deterministically from "
    "events per the p9/p10 convention; the distance is emitted "
    "un-rounded because every op is IEEE-identical cross-engine. "
    "Extends the reference's coordinate pipeline "
    "(LocationCrawlerBolt) with the proximity-join shape it lacked. "
    "Join extension.",
    # ADVICE r3 (low): formerly a K=9 builtin-round() wrap; portable
    # half-up at K=6 instead
    scaled={"dist": 6},
    portable=True,
)
def j12_geo_cell_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = GEO_RADIUS
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 0)
    pts = ev.select(
        "event_id",
        ((F.col("value") % 180) - 90).alias("lat"),
        ((F.col("user_id").cast("double") % 360) - 180).alias("lon"),
    )
    cells = pts.select(
        "*",
        F.floor(F.col("lat") / r).cast("bigint").alias("cy"),
        F.floor(F.col("lon") / r).cast("bigint").alias("cx"),
    )
    probe = (
        cells.select(
            F.col("event_id").alias("id_a"),
            F.col("lat").alias("lat_a"),
            F.col("lon").alias("lon_a"),
            "cy",
            "cx",
        )
        .withColumn("dy", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .withColumn("dx", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .select(
            "id_a",
            "lat_a",
            "lon_a",
            (F.col("cy") + F.col("dy")).alias("ny"),
            (F.col("cx") + F.col("dx")).alias("nx"),
        )
    )
    home = cells.select(
        F.col("event_id").alias("id_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        F.col("cy").alias("hcy"),
        F.col("cx").alias("hcx"),
    )
    dlat = F.col("lat_a") - F.col("lat_b")
    dlon = F.col("lon_a") - F.col("lon_b")
    d2 = dlat * dlat + dlon * dlon
    return (
        probe.join(
            home,
            (F.col("ny") == F.col("hcy"))
            & (F.col("nx") == F.col("hcx"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .filter(d2 <= r * r)
        .select("id_a", "id_b", F.sqrt(d2).alias("dist"))
    )


# ---------------------------------------------------------------------------
# grouped OLS trend fit (slope/intercept per key)
# ---------------------------------------------------------------------------

LINFIT_EPOCH0 = 820_454_400  # 1996-01-01; x in MINUTES keeps x^2 sums < 2^53


@_register(
    "ag_linfit",
    f"""
    WITH pts AS (
      -- explicit floor, NOT `// 60`: DuckDB integer // truncates
      -- toward zero (-7//2 = -3) while Spark F.floor(x/60) floors,
      -- so pre-1996 events would land one bucket apart (ADVICE r2)
      SELECT user_id,
             CAST(floor((CAST(floor(epoch(ts)) AS BIGINT)
                         - {LINFIT_EPOCH0}) / 60.0) AS BIGINT) AS x,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS yc
      FROM events
    ),
    s AS (
      SELECT user_id, count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * yc) AS BIGINT) AS sxy,
             CAST(sum(yc) AS BIGINT) AS sy
      FROM pts GROUP BY 1 HAVING count(*) >= 3
    )
    SELECT user_id, n,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 100.0 AS slope,
           (CAST(sy AS DOUBLE)
            - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
              * CAST(sx AS DOUBLE))
           / CAST(n AS DOUBLE) / 100.0 AS intercept
    FROM s
    -- zero-x-variance guard (exact integers): keeps the normal
    -- equations total — a key whose events all share one minute
    -- bucket would make slope 0/0 = NaN, which the r3 scaled-BIGINT
    -- wrap turns into an engine-divergent cast (CODE-REVIEW r3)
    WHERE n * sxx - sx * sx <> 0
    """,
    doc="Grouped OLS trend (value-over-time slope + intercept per "
    "user, units value/minute): the per-key drift detector behind "
    "engagement decay and quality-trend monitors. The four "
    "sufficient statistics fold as exact BIGINT in ONE partial-agg "
    "pass (x in minutes since 1996, y in half-up cents keep every "
    "sum below 2^53, so the int->double casts are EXACT on both "
    "engines); the closed-form normal equations then run as one "
    "shared double expression — emitted un-rounded, bit-identical "
    "cross-engine. Aggregate-statistics extension.",
    # ADVICE r3 (low): formerly a K=9 builtin-round() wrap; portable
    # half-up at K=6 instead
    scaled={"slope": 6, "intercept": 6},
    portable=True,
)
def ag_linfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # Spark integer `/` is double division; floor to mirror DuckDB //
    x = F.floor((F.unix_timestamp("ts") - LINFIT_EPOCH0) / 60).cast("bigint")
    yc = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    pts = ev.select("user_id", x.alias("x"), yc.alias("yc"))
    s = (
        pts.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("yc")).alias("sxy"),
            F.sum("yc").alias("sy"),
        )
        .filter(F.col("n") >= 3)
        # zero-x-variance guard, exact integer arithmetic (same
        # predicate as the oracle) — keeps slope/intercept NaN-free
        .filter(
            F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") != 0
        )
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxxd = F.col("sxx").cast("double")
    sxyd = F.col("sxy").cast("double")
    slope_c = (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
    return s.select(
        "user_id",
        "n",
        (slope_c / 100.0).alias("slope"),
        (((syd - slope_c * sxd) / nd) / 100.0).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# exact ROC-AUC via rank statistics (Mann-Whitney U with mid-ranks)
# ---------------------------------------------------------------------------


@_register(
    "ag_auc",
    """
    WITH scored AS (
      SELECT n_chars AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
      FROM documents
    ),
    ranked AS (
      SELECT label,
             rank() OVER (ORDER BY score) AS r,
             count(*) OVER (PARTITION BY score) AS c
      FROM scored
    ),
    agg AS (
      SELECT CAST(sum(CASE WHEN label = 1 THEN 2 * r + c - 1 ELSE 0 END)
                  AS BIGINT) AS u2,
             CAST(sum(label) AS BIGINT) AS np,
             CAST(sum(1 - label) AS BIGINT) AS nn
      FROM ranked
    )
    SELECT np AS n_pos, nn AS n_neg,
           (CAST(u2 AS DOUBLE) / 2.0
            - CAST(np AS DOUBLE) * (CAST(np AS DOUBLE) + 1.0) / 2.0)
           / (CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)) AS auc
    FROM agg
    """,
    doc="Exact ROC-AUC of a score against a binary label "
    "(doc length predicting lang='en') via the Mann-Whitney "
    "rank-sum with tie mid-ranks — the distributed-eval-metric "
    "pattern: 2*midrank = 2*rank + tiecount - 1 stays integer, so "
    "the statistic folds exactly and one shared double expression "
    "emits the AUC un-rounded. Distributed shape (VERDICT r5 #5): "
    "the corpus pre-aggregates per distinct score FIRST, so the one "
    "unpartitioned rank window runs over the score DOMAIN (bounded "
    "by max doc length), never the corpus — rank(score) = 1 + count "
    "of strictly-smaller rows and the tie count are both derivable "
    "from the per-score rollup, and every rank-sum term stays an "
    "exact integer, so u2/np/nn are bit-identical to the row-level "
    "plan the oracle states. Aggregate-statistics extension.",
    scaled={"auc": 6},
)
def ag_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        F.col("n_chars").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
    )
    by_score = scored.groupBy("score").agg(
        F.sum("label").cast("bigint").alias("pos"),
        F.count(F.lit(1)).alias("n"),
    )
    # rank of every row tied at this score = 1 + rows strictly below;
    # c (tie count) = n. Window frame is |distinct scores| rows.
    wr = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    ranked = by_score.select(
        "pos",
        "n",
        (F.coalesce(F.sum("n").over(wr), F.lit(0)) + 1).alias("r"),
    )
    agg = ranked.agg(
        F.sum(
            (F.col("pos") * (2 * F.col("r") + F.col("n") - 1)).cast("bigint")
        ).alias("u2"),
        F.sum("pos").cast("bigint").alias("np"),
        (F.sum("n") - F.sum("pos")).cast("bigint").alias("nn"),
    )
    npd = F.col("np").cast("double")
    nnd = F.col("nn").cast("double")
    return agg.select(
        F.col("np").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        # try_divide: a single-class eval set has np*nn == 0 — NULL,
        # matching DuckDB's x/0 (rule 15; fuzzer-found ANSI crash)
        F.try_divide(
            F.col("u2").cast("double") / 2.0 - npd * (npd + 1.0) / 2.0,
            npd * nnd,
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# precision/recall threshold sweep (PR curve points)
# ---------------------------------------------------------------------------


@_register(
    "ag_pr_curve",
    """
    WITH scored AS (
      SELECT n_chars AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
      FROM documents
    ),
    by_score AS (
      SELECT score, CAST(sum(label) AS BIGINT) AS pos,
             count(*) AS n
      FROM scored GROUP BY 1
    ),
    sweep AS (
      SELECT score,
             CAST(sum(pos) OVER (ORDER BY score DESC) AS BIGINT) AS tp,
             CAST(sum(n) OVER (ORDER BY score DESC) AS BIGINT) AS predicted
      FROM by_score
    ),
    tot AS (SELECT CAST(sum(label) AS BIGINT) AS all_pos FROM scored)
    SELECT score AS threshold, tp, predicted,
           CAST(tp AS DOUBLE) / CAST(predicted AS DOUBLE) AS precision,
           CAST(tp AS DOUBLE) / CAST(all_pos AS DOUBLE) AS recall
    FROM sweep CROSS JOIN tot
    """,
    doc="Precision/recall threshold sweep (PR-curve points for "
    "score >= t at every distinct score): pre-aggregate per score "
    "FIRST so the cumulative window runs over |distinct scores| "
    "rows, not documents — the eval-metric companion to ag_auc, "
    "same exact-integer discipline, ratios un-rounded. "
    "Aggregate-statistics extension.",
    scaled={"precision": 6, "recall": 6},
)
def ag_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        F.col("n_chars").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
    )
    by_score = scored.groupBy("score").agg(
        F.sum("label").cast("bigint").alias("pos"),
        F.count(F.lit(1)).alias("n"),
    )
    w = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sweep = by_score.select(
        "score",
        F.sum("pos").over(w).cast("bigint").alias("tp"),
        F.sum("n").over(w).cast("bigint").alias("predicted"),
    )
    tot = scored.agg(F.sum("label").cast("bigint").alias("all_pos"))
    return sweep.crossJoin(F.broadcast(tot)).select(
        F.col("score").alias("threshold"),
        "tp",
        "predicted",
        (F.col("tp").cast("double") / F.col("predicted").cast("double")).alias(
            "precision"
        ),
        # try_divide: zero positives anywhere -> NULL recall, matching
        # DuckDB's x/0 (rule 15; fuzzer-found ANSI crash)
        F.try_divide(
            F.col("tp").cast("double"), F.col("all_pos").cast("double")
        ).alias("recall"),
    )


# ---------------------------------------------------------------------------
# two-sample Kolmogorov-Smirnov distance
# ---------------------------------------------------------------------------

KS_TYPE_A = "click"
KS_TYPE_B = "purchase"


@_register(
    "ag_ks_test",
    f"""
    WITH pts AS (
      SELECT value,
             CASE WHEN event_type = '{KS_TYPE_A}' THEN 1 ELSE 0 END AS a,
             CASE WHEN event_type = '{KS_TYPE_B}' THEN 1 ELSE 0 END AS b
      FROM events
      WHERE event_type IN ('{KS_TYPE_A}', '{KS_TYPE_B}')
        AND value IS NOT NULL
    ),
    by_val AS (
      SELECT value, CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb
      FROM pts GROUP BY 1
    ),
    cum AS (
      SELECT CAST(sum(na) OVER (ORDER BY value) AS BIGINT) AS ca,
             CAST(sum(nb) OVER (ORDER BY value) AS BIGINT) AS cb
      FROM by_val
    ),
    tot AS (
      SELECT CAST(sum(a) AS BIGINT) AS n1, CAST(sum(b) AS BIGINT) AS n2
      FROM pts
    )
    SELECT n1, n2,
           CAST(max(abs(ca * n2 - cb * n1)) AS DOUBLE)
             / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS ks_d
    FROM cum CROSS JOIN tot
    GROUP BY n1, n2
    """,
    doc="Two-sample Kolmogorov-Smirnov distance between the value "
    "distributions of two event types: the nonparametric drift "
    "metric next to dv_psi_drift's binned PSI (no bin choice to "
    "get wrong). The empirical-CDF gap folds as the exact integer "
    "|ca*n2 - cb*n1| — max over |distinct values| pre-aggregated "
    "rows, never raw events — and one shared double division emits "
    "D un-rounded. Aggregate-statistics extension.",
    scaled={"ks_d": 6},
)
def ag_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL measurements are not points of a value CDF — and an
    # order-by column must never be nullable without an explicit
    # filter (Spark ascending = NULLS FIRST vs DuckDB NULLS LAST
    # flipped the cumulative gap; rule 15 / the ag_qq_points class,
    # re-found here by the backlog fuzzer)
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin(KS_TYPE_A, KS_TYPE_B)
        & F.col("value").isNotNull()
    )
    pts = ev.select(
        "value",
        F.when(F.col("event_type") == KS_TYPE_A, 1).otherwise(0).alias("a"),
        F.when(F.col("event_type") == KS_TYPE_B, 1).otherwise(0).alias("b"),
    )
    by_val = pts.groupBy("value").agg(
        F.sum("a").cast("bigint").alias("na"),
        F.sum("b").cast("bigint").alias("nb"),
    )
    w = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = by_val.select(
        F.sum("na").over(w).cast("bigint").alias("ca"),
        F.sum("nb").over(w).cast("bigint").alias("cb"),
    )
    tot = pts.agg(
        F.sum("a").cast("bigint").alias("n1"),
        F.sum("b").cast("bigint").alias("n2"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(
            # try_divide: one sample empty -> NULL, matching DuckDB's
            # x/0 (rule 15; fuzzer-found ANSI crash)
            F.try_divide(
                F.max(
                    F.abs(F.col("ca") * F.col("n2") - F.col("cb") * F.col("n1"))
                ).cast("double"),
                F.col("n1").cast("double") * F.col("n2").cast("double"),
            ).alias("ks_d")
        )
    )


# ---------------------------------------------------------------------------
# RAKE-style keyword extraction (degree-scored stopword-delimited phrases)
# ---------------------------------------------------------------------------

RAKE_TOP_K = 10
RAKE_MIN_LEN = 2


def _rake_sql() -> str:
    from .ops.text import EN_STOPWORDS

    stops = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w,
             generate_subscripts(regexp_extract_all(lower(text), '[a-z]+'), 1)
               AS pos
      FROM documents
    ),
    flagged AS (
      SELECT *, CASE WHEN w IN ({stops}) THEN 1 ELSE 0 END AS stop
      FROM tok
    ),
    islands0 AS (
      SELECT doc_id, w, pos, stop,
             sum(stop) OVER (PARTITION BY doc_id ORDER BY pos) AS pid
      FROM flagged
    ),
    islands AS (
      SELECT doc_id, w, pos, pid FROM islands0 WHERE stop = 0
    ),
    phrase_occ AS (
      SELECT doc_id, pid,
             string_agg(w, ' ' ORDER BY pos) AS phrase,
             count(*) AS plen
      FROM islands GROUP BY 1, 2
    ),
    word_stats AS (
      SELECT i.w,
             CAST(sum(p.plen) AS BIGINT) AS deg,
             count(*) AS freq
      FROM islands i
      JOIN phrase_occ p ON p.doc_id = i.doc_id AND p.pid = i.pid
      GROUP BY 1
    ),
    uniq AS (
      SELECT phrase, CAST(max(plen) AS BIGINT) AS plen,
             count(*) AS n_occurrences
      FROM phrase_occ GROUP BY 1 HAVING max(plen) >= {RAKE_MIN_LEN}
    ),
    scored AS (
      SELECT u.phrase, u.plen, u.n_occurrences,
             CAST(sum(ws.deg) AS BIGINT) AS degree_score
      FROM uniq u,
           unnest(string_split(u.phrase, ' ')) AS t(pw)
      JOIN word_stats ws ON ws.w = t.pw
      GROUP BY 1, 2, 3
    )
    SELECT phrase, plen, n_occurrences, degree_score, rnk FROM (
      SELECT *, CAST(row_number() OVER (
               ORDER BY degree_score DESC, n_occurrences DESC, phrase ASC)
             AS INT) AS rnk
      FROM scored)
    WHERE rnk <= {RAKE_TOP_K}
    """


@_register(
    "tx_rake_keywords",
    _rake_sql(),
    doc="RAKE-style keyword extraction: candidate phrases are maximal "
    "stopword-delimited word runs (gaps-and-islands per doc), each "
    "word's degree = total length of phrases containing it, and a "
    "phrase's score = sum of its words' degrees — the all-INTEGER "
    "degree variant, so scoring is exact and order-free (the "
    "classic deg/freq ratio would sum doubles in engine-dependent "
    "order). Top-10 phrases with deterministic tiebreaks. The "
    "unsupervised labeling pass next to tf-idf and chi2. "
    "Text-analysis extension.",
)
def tx_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .ops.text import EN_STOPWORDS

    docs = _t(spark, sf_dir, "documents")
    # r8 (guide §2.4 "remove shuffles outright"): the stopword-
    # delimited phrase runs are computable IN-ROW — mark stopwords
    # with a ',' (never in [a-z]+ tokens), join on single spaces,
    # split on ',' and trim: each non-empty piece is one maximal
    # non-stopword run in document order, exactly the gaps-and-
    # islands (doc_id, pid) groups of the windowed formulation.
    # This deletes the full-token-stream posexplode, the per-doc
    # window (shuffle+sort by doc_id), the collect_list re-assembly,
    # and the islands⋈phrase_occ join: per-word degree now derives
    # from exploding each phrase occurrence's own words (one row per
    # island word occurrence, as before).
    stops_sql = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    phrases = (
        "filter(transform(split(array_join(transform("
        "regexp_extract_all(lower(text), '[a-z]+', 0), "
        f"w -> CASE WHEN w IN ({stops_sql}) THEN ',' ELSE w END), ' '), "
        "','), p -> trim(p)), p -> p != '')"
    )
    phrase_occ = docs.select(
        "doc_id", F.explode(F.expr(phrases)).alias("phrase")
    ).select(
        "doc_id",
        "phrase",
        F.size(F.split("phrase", " ")).alias("plen"),
    )
    word_stats = (
        phrase_occ.select(
            F.explode(F.split("phrase", " ")).alias("w"), "plen"
        )
        .groupBy("w")
        .agg(F.sum("plen").cast("bigint").alias("deg"))
    )
    uniq = (
        phrase_occ.groupBy("phrase")
        .agg(
            F.max("plen").cast("bigint").alias("plen"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("plen") >= RAKE_MIN_LEN)
    )
    scored = (
        uniq.select(
            "phrase",
            "plen",
            "n_occurrences",
            F.explode(F.split("phrase", " ")).alias("pw"),
        )
        .join(word_stats, F.col("pw") == F.col("w"))
        .groupBy("phrase", "plen", "n_occurrences")
        .agg(F.sum("deg").cast("bigint").alias("degree_score"))
    )
    wr = Window.orderBy(
        F.desc("degree_score"), F.desc("n_occurrences"), F.asc("phrase")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= RAKE_TOP_K)
        .select("phrase", "plen", "n_occurrences", "degree_score", "rnk")
    )


# ---------------------------------------------------------------------------
# TPC-H Q13 shape: customer order-count distribution
# ---------------------------------------------------------------------------


@_register(
    "sq_customer_distribution",
    """
    SELECT c_count, count(*) AS custdist FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority <> '1-URGENT'
      GROUP BY 1)
    GROUP BY 1
    """,
    doc="TPC-H Q13 shape (customer distribution): LEFT OUTER join so "
    "zero-order customers survive into the c_count=0 bucket, then a "
    "second aggregation over the first — the double-agg pattern "
    "whose outer join cannot be reordered away; the join-side "
    "predicate rides the ON clause (a WHERE would silently turn the "
    "outer join inner). Relational extension.",
)
def sq_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


# ---------------------------------------------------------------------------
# calibration bins (reliability diagram)
# ---------------------------------------------------------------------------

CALIB_BINS = 10


@_register(
    "ag_calibration",
    f"""
    WITH scored AS (
      SELECT n_chars AS score,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
      FROM documents
    ),
    ranked AS (
      SELECT label,
             CAST(rank() OVER (ORDER BY score) AS BIGINT) - 1 AS r0,
             count(*) OVER () AS n
      FROM scored
    ),
    binned AS (
      SELECT CAST(least(r0 * {CALIB_BINS} // (n - 1), {CALIB_BINS - 1})
                  AS INT) AS bin,
             r0, label, n
      FROM ranked
    )
    SELECT bin, count(*) AS n_docs,
           CAST(sum(r0) AS DOUBLE)
             / (CAST(count(*) AS DOUBLE) * CAST(max(n) - 1 AS DOUBLE))
             AS mean_pred,
           CAST(sum(label) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS actual_rate
    FROM binned GROUP BY 1
    """,
    doc="Calibration bins (reliability diagram): the score's "
    "percent-rank is the 'predicted probability', decile-binned; "
    "each bin reports mean prediction vs actual positive rate — the "
    "third standard eval metric next to ag_auc/ag_pr_curve. "
    "percent_rank = (rank-1)/(N-1) stays a rational of integers, so "
    "mean_pred folds as an exact BIGINT rank sum and one shared "
    "double division emits it un-rounded. Distributed shape (VERDICT "
    "r5 #5): rows tied at a score share r0 = count of strictly-"
    "smaller rows, hence the same bin — so the corpus pre-aggregates "
    "per distinct score FIRST and the one unpartitioned window runs "
    "over the score DOMAIN, never the corpus; per-bin sums fold the "
    "tie counts exactly, bit-identical to the row-level plan the "
    "oracle states. Aggregate-statistics extension.",
    scaled={"mean_pred": 6, "actual_rate": 6},
)
def ag_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        F.col("n_chars").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("label"),
    )
    by_score = scored.groupBy("score").agg(
        F.sum("label").cast("bigint").alias("pos"),
        F.count(F.lit(1)).alias("n"),
    )
    wr = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    grp = by_score.select(
        "pos",
        "n",
        F.coalesce(F.sum("n").over(wr), F.lit(0)).cast("bigint").alias("r0"),
    )
    total = grp.agg(F.sum("n").alias("n_total"))
    # try_divide: a 1-row eval set has N-1 == 0 — NULL bin / NULL
    # mean_pred, matching DuckDB's x/0 (rule 15; fuzzer-found crash)
    binned = grp.crossJoin(F.broadcast(total)).select(
        F.least(
            F.floor(
                F.try_divide(F.col("r0") * CALIB_BINS, F.col("n_total") - 1)
            ),
            F.lit(CALIB_BINS - 1),
        )
        .cast("int")
        .alias("bin"),
        "pos",
        "n",
        "r0",
        "n_total",
    )
    return binned.groupBy("bin").agg(
        F.sum("n").alias("n_docs"),
        F.try_divide(
            F.sum(F.col("r0") * F.col("n")).cast("double"),
            F.sum("n").cast("double")
            * (F.max("n_total") - 1).cast("double"),
        ).alias("mean_pred"),
        (F.sum("pos").cast("double") / F.sum("n").cast("double")).alias(
            "actual_rate"
        ),
    )


# ---------------------------------------------------------------------------
# lag-1 autocorrelation of the hourly event-count series
# ---------------------------------------------------------------------------


@_register(
    "ts_autocorr",
    """
    WITH hourly AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h, count(*) AS n
      FROM events GROUP BY 1
    ),
    pairs AS (
      SELECT a.n AS x, b.n AS y
      FROM hourly a JOIN hourly b ON b.h = a.h + 1
    ),
    s AS (
      SELECT count(*) AS np,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM pairs
    )
    SELECT np AS n_pairs,
           (CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / sqrt((CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (CAST(np AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             AS lag1_corr
    FROM s
    """,
    doc="Lag-1 autocorrelation of the hourly event-count series (the "
    "seasonality/burstiness diagnostic feeding anomaly baselines): "
    "consecutive-hour pairs come from an equi self-join on h+1 over "
    "the pre-aggregated hourly table — never raw events; all six "
    "sufficient statistics fold as exact BIGINT and one shared "
    "double expression (IEEE sqrt included) emits r un-rounded. "
    "Temporal extension.",
    scaled={"lag1_corr": 6},
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    a = hourly.select(F.col("h").alias("ha"), F.col("n").alias("x"))
    b = hourly.select(F.col("h").alias("hb"), F.col("n").alias("y"))
    pairs = a.join(b, F.col("hb") == F.col("ha") + 1)
    s = pairs.agg(
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
    return s.select(
        F.col("np").alias("n_pairs"),
        # try_divide: a constant (or <2-point) hourly series has zero
        # variance — NULL, matching DuckDB's x/0 (rule 15)
        F.try_divide(
            npd * sxyd - sxd * syd,
            F.sqrt((npd * sxxd - sxd * sxd) * (npd * syyd - syd * syd)),
        ).alias("lag1_corr"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q17 shape: small-quantity-order revenue
# ---------------------------------------------------------------------------

Q17_BRAND = "Brand#5"


@_register(
    "sq_small_quantity_revenue",
    f"""
    WITH part_avg AS (
      SELECT l_partkey, 0.2 * (CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE)
                               / count(*)) AS qty_thresh
      FROM lineitem GROUP BY 1
    )
    SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
             AS avg_yearly,
           count(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN part_avg a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = '{Q17_BRAND}' AND l.l_quantity < a.qty_thresh
    """,
    doc="TPC-H Q17 shape (small-quantity-order revenue): the "
    "correlated per-PART average decorrelates into one aggregate "
    "over the fact table joined back on the part key — Catalyst "
    "runs it as two scans of lineitem with the brand filter pushed "
    "to the probe side. The threshold average is exact (integer "
    "quantity sum / count, one shared double expression), so the "
    "strict < cut is engine-identical even when 0.2*avg lands "
    "exactly on an integer quantity. Relational extension.",
    scaled={"avg_yearly": 2},
)
def sq_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == Q17_BRAND)
    part_avg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.lit(0.2)
            * (
                F.sum(F.col("l_quantity").cast("bigint")).cast("double")
                / F.count(F.lit(1))
            )
        ).alias("qty_thresh")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(part_avg, li.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast(
                    "double"
                )
                / 7.0
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# chi-square independence cells (categorical x categorical contingency)
# ---------------------------------------------------------------------------


@_register(
    "ag_chisq_cells",
    """
    WITH obs AS (
      SELECT event_type, CAST(isodow(ts) AS INT) AS dow,
             count(*) AS o
      FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM obs GROUP BY 1),
    ct AS (SELECT dow, CAST(sum(o) AS BIGINT) AS c FROM obs GROUP BY 1),
    n AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM obs)
    SELECT obs.event_type, obs.dow, o AS observed,
           CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(nn AS DOUBLE)
             AS expected,
           CAST(o * nn - r * c AS DOUBLE) * CAST(o * nn - r * c AS DOUBLE)
             / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) * CAST(nn AS DOUBLE))
             AS contrib
    FROM obs JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN n
    """,
    doc="Chi-square independence cells for the event_type x weekday "
    "contingency table (is activity mix day-dependent?): observed "
    "count, expected under independence, and the per-cell chi2 "
    "contribution (o*N - r*c stays exact BIGINT; each output is one "
    "shared double expression, un-rounded). Emitting CELLS instead "
    "of the summed statistic keeps every value free of cross-row "
    "double summation — the reader sums 35 exact-by-construction "
    "numbers. Aggregate-statistics extension.",
    scaled={"expected": 4, "contrib": 6},
)
def ag_chisq_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type",
        F.expr("CAST(weekday(ts) + 1 AS INT)").alias("dow"),
    ).agg(F.count(F.lit(1)).alias("o"))
    rt = obs.groupBy("event_type").agg(F.sum("o").cast("bigint").alias("r"))
    ct = obs.groupBy("dow").agg(F.sum("o").cast("bigint").alias("c"))
    n = obs.agg(F.sum("o").cast("bigint").alias("nn"))
    diff = (F.col("o") * F.col("nn") - F.col("r") * F.col("c")).cast("double")
    rd, cd, nd = (
        F.col("r").cast("double"),
        F.col("c").cast("double"),
        F.col("nn").cast("double"),
    )
    return (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(n))
        .select(
            "event_type",
            "dow",
            F.col("o").alias("observed"),
            (rd * cd / nd).alias("expected"),
            (diff * diff / (rd * cd * nd)).alias("contrib"),
        )
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint scan over the hourly series
# ---------------------------------------------------------------------------


@_register(
    "ts_cusum_changepoint",
    """
    WITH hourly AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h, count(*) AS n
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT count(*) AS nh, CAST(sum(n) AS BIGINT) AS t FROM hourly
    ),
    cusum AS (
      SELECT h,
             CAST(nh AS BIGINT)
               * CAST(sum(n) OVER (ORDER BY h) AS BIGINT)
               - CAST(row_number() OVER (ORDER BY h) AS BIGINT) * t
               AS c_scaled,
             nh, t
      FROM hourly CROSS JOIN tot
    )
    SELECT h AS changepoint_hour, abs(c_scaled) AS max_cusum_scaled,
           nh AS n_hours, t AS n_events
    FROM cusum
    ORDER BY abs(c_scaled) DESC, h ASC LIMIT 1
    """,
    doc="CUSUM changepoint scan over the hourly event-count series: "
    "the hour maximizing |cumulative deviation from the global "
    "mean| — the standard level-shift detector. Scaling by the "
    "hour count turns the running deviation into the exact BIGINT "
    "N*cumsum(k) - k*T (no mean division anywhere), so the scan, "
    "the max, and the argmax tiebreak are all integer-deterministic; "
    "the window runs over pre-aggregated hours, never raw events. "
    "Temporal extension.",
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = hourly.agg(
        F.count(F.lit(1)).alias("nh"), F.sum("n").cast("bigint").alias("t")
    )
    w = Window.orderBy("h").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wr = Window.orderBy("h")
    cusum = hourly.crossJoin(F.broadcast(tot)).select(
        "h",
        (
            F.col("nh").cast("bigint") * F.sum("n").over(w).cast("bigint")
            - F.row_number().over(wr).cast("bigint") * F.col("t")
        ).alias("c_scaled"),
        "nh",
        "t",
    )
    return (
        cusum.orderBy(F.abs(F.col("c_scaled")).desc(), F.asc("h"))
        .limit(1)
        .select(
            F.col("h").alias("changepoint_hour"),
            F.abs(F.col("c_scaled")).alias("max_cusum_scaled"),
            F.col("nh").alias("n_hours"),
            F.col("t").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q21 shape: suppliers who kept multi-supplier orders waiting
# ---------------------------------------------------------------------------

WAIT_LATE_DAYS = 60


@_register(
    "sq_waiting_suppliers",
    f"""
    WITH lo AS (
      SELECT l.l_orderkey, l.l_suppkey,
             CASE WHEN l.l_shipdate > o.o_orderdate
                       + INTERVAL {WAIT_LATE_DAYS} DAY
                  THEN 1 ELSE 0 END AS is_late
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
    ),
    per_order AS (
      SELECT l_orderkey,
             count(DISTINCT l_suppkey) AS n_supp,
             count(DISTINCT CASE WHEN is_late = 1 THEN l_suppkey END)
               AS n_late,
             min(CASE WHEN is_late = 1 THEN l_suppkey END) AS late_supp
      FROM lo GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, count(*) AS numwait
    FROM per_order p JOIN supplier s ON s.s_suppkey = p.late_supp
    WHERE n_supp >= 2 AND n_late = 1
    GROUP BY 1, 2 ORDER BY numwait DESC, s_suppkey LIMIT 20
    """,
    doc="TPC-H Q21 shape (waiting suppliers): the classic "
    "double-correlated EXISTS / NOT EXISTS pair — 'another supplier "
    "participated in the order, but no other supplier was late' — "
    "decorrelated into ONE grouped pass over (order, supplier, "
    "late?) tuples: per-order distinct-supplier and distinct-late "
    "counts replace both correlated subqueries, so lineitem is "
    "scanned once and shuffled once on l_orderkey instead of three "
    "self-joins. 'Late' = shipped more than 60 days after the order "
    "date (the synthetic schema has no receipt/commit dates). "
    "Deterministic top-20 via the (numwait DESC, s_suppkey) total "
    "order. Relational extension.",
)
def sq_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    s = _t(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {WAIT_LATE_DAYS} DAYS"
    )
    per_order = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "l_orderkey",
            "l_suppkey",
            F.when(late, F.col("l_suppkey")).alias("_late_supp"),
        )
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("_late_supp").alias("n_late"),
            F.min("_late_supp").alias("late_supp"),
        )
        .filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
    )
    return (
        per_order.join(F.broadcast(s), per_order.late_supp == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_suppkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q15 shape: top supplier(s) by quarterly shipped revenue
# ---------------------------------------------------------------------------

TOPSUPP_Q_START = "1997-01-01"
TOPSUPP_Q_END = "1997-04-01"


@_register(
    "sq_top_supplier",
    f"""
    WITH rev AS (
      SELECT l_suppkey,
             sum(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(18,4))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '{TOPSUPP_Q_START}'
        AND l_shipdate < TIMESTAMP '{TOPSUPP_Q_END}'
      GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(total_rev * 10000 AS BIGINT) AS total_rev_x1e4
    FROM rev JOIN supplier s ON s.s_suppkey = rev.l_suppkey
    WHERE total_rev = (SELECT max(total_rev) FROM rev)
    """,
    doc="TPC-H Q15 shape (top supplier): revenue per supplier over one "
    "shipped quarter, then argmax-over-aggregate — the scalar max "
    "broadcasts back onto the aggregate (Catalyst plans the "
    "correlated '= (SELECT max ...)' as a 1-row broadcast join, no "
    "second lineitem scan). Revenue folds as exact DECIMAL so the "
    "max-equality comparison cannot flip on fp association; output "
    "ships as scaled BIGINT. Ties all surface (spec-faithful). "
    "Relational extension.",
)
def sq_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= TOPSUPP_Q_START)
        & (F.col("l_shipdate") < TOPSUPP_Q_END)
    )
    s = _t(spark, sf_dir, "supplier")
    rev_expr = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    rev = li.groupBy("l_suppkey").agg(F.sum(rev_expr).alias("total_rev"))
    # one tiny shuffle to a scalar, broadcast back: the aggregate is
    # reused (no re-scan) because `rev` feeds both sides of the join
    mx = rev.agg(F.max("total_rev").alias("_mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("_mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("total_rev") * 10000).cast("long").alias("total_rev_x1e4"),
        )
    )


# ---------------------------------------------------------------------------
# embedding covariance matrix (PCA / whitening prep)
# ---------------------------------------------------------------------------

EMB_DIM = 64


@_register(
    "emb_covariance",
    _scaled_int_sql(
        """
    WITH e AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    s AS (SELECT d, sum(v) AS sx FROM e GROUP BY 1),
    nn AS (SELECT count(*) AS n FROM embeddings),
    p AS (
      SELECT a.d AS dim_i, b.d AS dim_j, sum(a.v * b.v) AS sxy
      FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.d <= b.d
      GROUP BY 1, 2
    )
    SELECT CAST(dim_i AS INTEGER) AS dim_i, CAST(dim_j AS INTEGER) AS dim_j,
           round((sxy - sa.sx * sb.sx / n) / (n - 1), 6) AS cov
    FROM p
    JOIN s sa ON sa.d = dim_i
    JOIN s sb ON sb.d = dim_j
    CROSS JOIN nn
    """,
        ["dim_i", "dim_j"],
        {"cov": 6},
    ),
    doc="Sample covariance matrix of the embedding columns (upper "
    "triangle, 64x64 -> 2080 rows) — the sufficient statistic for "
    "PCA / ZCA whitening / Mahalanobis scaling of an embedding "
    "corpus. Engine plan: each vector emits its 2080 coordinate "
    "products IN-ROW (flatten of a nested transform — no self-join), "
    "then ONE partial-aggregated groupBy((i,j)) collapses them "
    "map-side, so the shuffle carries 2080 partials per task, not "
    "O(n·d²) rows; dimension sums broadcast back (64 rows). At "
    "corpus scale this is the explode form of the X^T·X GEMM with "
    "bounded (d²) output. The oracle replays it as a per-vector "
    "dimension self-join. Embedding-column extension. Hash-exact "
    "output (scaled BIGINT).",
)
def emb_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r9: per-task NumPy GEMM partials instead of the per-vector
    # d*(d+1)/2 product explode (guide §4.2) — shared kernel with the
    # PCA/Mahalanobis family; see scale.similarity.cov_gemm_partials
    # for the value-equivalence argument (same float64 multiset, 6dp
    # round absorbs association order; oracle-green all three SFs).
    from .scale.similarity import cov_upper

    emb = _t(spark, sf_dir, "embeddings")
    return _as_scaled_int(cov_upper(emb, EMB_DIM), {"cov": 6})


# ---------------------------------------------------------------------------
# Welch two-sample t-test between event types
# ---------------------------------------------------------------------------


@_register(
    "ag_welch_ttest",
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
           round((ma - mb) / sqrt(va / na + vb / nb), 6) AS t_stat,
           round(pow(va / na + vb / nb, 2)
                 / (pow(va / na, 2) / (na - 1)
                    + pow(vb / nb, 2) / (nb - 1)), 2) AS df_welch
    FROM pairs
    """,
        ["type_a", "type_b", "na", "nb"],
        {"t_stat": 6, "df_welch": 2},
    ),
    doc="Welch two-sample t-test of `value` between every event-type "
    "pair (unequal variances; Welch-Satterthwaite df) — the A/B "
    "significance screen. Sufficient statistics (n, sum, sum-of-"
    "squares) fold as EXACT DECIMAL in one partial-agg shuffle, so "
    "the inputs to the double formula are order-independent and "
    "bit-identical on both engines; the 5-type pair join is a "
    "5-row broadcast. Aggregate-statistics extension. Hash-exact "
    "output (scaled BIGINT).",
)
def ag_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,4)")
    st = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).cast("double").alias("s"),
        F.sum(dec * dec).cast("double").alias("ss"),
    )
    # try_divide: a single-row group has n-1 == 0 — NULL variance,
    # matching DuckDB's x/0 (rule 15; fuzzer-found ANSI crash)
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
    va, vb = F.col("va"), F.col("vb")
    se2 = va / na + vb / nb
    out = (
        a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            "na",
            "nb",
            F.round(
                F.try_divide(F.col("ma") - F.col("mb"), F.sqrt(se2)), 6
            ).alias("t_stat"),
            F.round(
                F.try_divide(
                    F.pow(se2, F.lit(2)),
                    F.try_divide(F.pow(va / na, F.lit(2)), na - 1)
                    + F.try_divide(F.pow(vb / nb, F.lit(2)), nb - 1),
                ),
                2,
            ).alias("df_welch"),
        )
    )
    return _as_scaled_int(out, {"t_stat": 6, "df_welch": 2})


# ---------------------------------------------------------------------------
# SAX symbolic discretization of the hourly activity series
# ---------------------------------------------------------------------------

SAX_SEGMENT_HOURS = 24  # PAA segment size
# Gaussian equiprobable breakpoints for alphabet {a,b,c,d}
SAX_BREAKS = (-0.6745, 0.0, 0.6745)


@_register(
    "ts_sax_symbols",
    f"""
    WITH hourly AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h, count(*) AS n
      FROM events GROUP BY 1
    ),
    st AS (
      SELECT count(*) AS cnt, CAST(sum(n) AS BIGINT) AS s,
             CAST(sum(n * n) AS BIGINT) AS ss
      FROM hourly
    ),
    seg AS (
      SELECT h // {SAX_SEGMENT_HOURS} AS segment_idx,
             count(*) AS seg_hours, CAST(sum(n) AS BIGINT) AS seg_n
      FROM hourly GROUP BY 1
    ),
    z AS (
      SELECT segment_idx, seg_hours, seg_n,
             round((CAST(seg_n AS DOUBLE) / seg_hours
                    - CAST(s AS DOUBLE) / cnt)
                   / sqrt((cnt * ss - s * s)
                          / (CAST(cnt AS DOUBLE) * (cnt - 1))), 6) AS zval
      FROM seg CROSS JOIN st
    )
    SELECT segment_idx, seg_hours, seg_n,
           CAST(round(zval * 1000000) AS BIGINT) AS z_x1e6,
           CASE WHEN zval < {SAX_BREAKS[0]} THEN 'a'
                WHEN zval < {SAX_BREAKS[1]} THEN 'b'
                WHEN zval < {SAX_BREAKS[2]} THEN 'c'
                ELSE 'd' END AS symbol
    FROM z
    """,
    doc="SAX (Symbolic Aggregate approXimation) of the hourly event "
    "series: PAA means over 24-hour segments, z-normalized against "
    "the global hourly distribution, discretized to a 4-letter "
    "alphabet at the Gaussian equiprobable breakpoints — the "
    "time-series motif/novelty-mining primitive. Mean/std come from "
    "EXACT integer sums (order-independent), the z-score is one "
    "double expression identical on both engines and is ROUNDED "
    "before the breakpoint comparison so symbols cannot flip on "
    "ulp noise. Two bounded aggregations + a 1-row broadcast. "
    "Temporal extension.",
)
def ts_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    st = hourly.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("n").cast("long").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("ss"),
    )
    seg = hourly.groupBy(
        F.expr(f"h div {SAX_SEGMENT_HOURS}").alias("segment_idx")
    ).agg(
        F.count(F.lit(1)).alias("seg_hours"),
        F.sum("n").cast("long").alias("seg_n"),
    )
    cnt, s, ss = F.col("cnt"), F.col("s"), F.col("ss")
    # try_divide x2: a single-hour series has cnt-1 == 0 and a
    # constant series zero variance — NULL z, matching DuckDB's x/0
    # (rule 15; fuzzer-found ANSI crash)
    zval = F.round(
        F.try_divide(
            F.col("seg_n").cast("double") / F.col("seg_hours")
            - s.cast("double") / cnt,
            F.sqrt(
                F.try_divide(cnt * ss - s * s, cnt.cast("double") * (cnt - 1))
            ),
        ),
        6,
    )
    z = seg.crossJoin(F.broadcast(st)).select(
        "segment_idx", "seg_hours", "seg_n", zval.alias("zval")
    )
    return z.select(
        "segment_idx",
        "seg_hours",
        "seg_n",
        F.round(F.col("zval") * 1000000).cast("long").alias("z_x1e6"),
        F.when(F.col("zval") < SAX_BREAKS[0], "a")
        .when(F.col("zval") < SAX_BREAKS[1], "b")
        .when(F.col("zval") < SAX_BREAKS[2], "c")
        .otherwise("d")
        .alias("symbol"),
    )
