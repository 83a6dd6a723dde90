"""Fifth catalog-extension batch (round 3, fourth continuation):
the remaining classic TPC-H decorrelation shapes adapted to the
available schema (no partsupp table, so the part-supplier relation
derives from lineitem), plus lakehouse/table-maintenance and
similarity-search completions — argmin-per-group minimum-cost
supplier (Q2), EXISTS order-priority counting (Q4), star-join profit
rollup (Q9), scalar-subquery HAVING threshold (Q11), anti-join +
count-distinct supplier variety (Q16), aggregate-derived semi-join
chain for dominant suppliers (Q20), a small-file compaction planner,
hourly OHLC resampling, and PQ asymmetric-distance (ADC) top-k
search composed from the ann_pq_codes training trace.

Same oracle discipline as the earlier batches (ORACLE_DISCIPLINE.md,
driver-hash rules): every computed output ships as an exact integer
(half-up integer cents, exact DECIMAL folds scaled to BIGINT,
positive-domain DIV, micro-unit LUT entries summed as integers) or
an aligned timestamp, composed IDENTICALLY in the Spark plan and the
oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries import _register, _t
from .scale import constants as C

# ---------------------------------------------------------------------------
# TPC-H Q2 shape: minimum-cost supplier per part — argmin-per-group
# decorrelation (the correlated `ps_supplycost = (SELECT min ...)`
# becomes one window rank over a pre-aggregated cost relation)
# ---------------------------------------------------------------------------

MINCOST_SIZE_LO = 10
MINCOST_SIZE_HI = 20
MINCOST_REGION = "EUROPE"


@_register(
    "sq_min_cost_supplier",
    f"""
    WITH cost AS (
      SELECT l_partkey, l_suppkey, min(l_extendedprice) AS supply_cost
      FROM lineitem GROUP BY 1, 2
    ),
    best AS (
      SELECT l_partkey, l_suppkey, supply_cost,
             row_number() OVER (
               PARTITION BY l_partkey ORDER BY supply_cost, l_suppkey) AS rn
      FROM cost
    )
    SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, n.n_name,
           CAST(floor(b.supply_cost * 100 + 0.5) AS BIGINT) AS cost_cents
    FROM best b
    JOIN part p ON p.p_partkey = b.l_partkey
      AND p.p_size BETWEEN {MINCOST_SIZE_LO} AND {MINCOST_SIZE_HI}
    JOIN supplier s ON s.s_suppkey = b.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
      AND r.r_name = '{MINCOST_REGION}'
    WHERE b.rn = 1
    """,
    doc="TPC-H Q2 shape (minimum-cost supplier): the correlated "
    "'cost = (SELECT min(cost) ... WHERE same part)' subquery "
    "decorrelated into one groupBy-min plus one argmin-per-group "
    "window (ties on the lower suppkey, spec-style), then the "
    "part/supplier/nation/region dimension chain joins broadcast "
    "(all four dims are small). The part-supplier cost relation "
    "derives from lineitem (no partsupp table in this schema); "
    "min() is an order-free passthrough of an existing double, and "
    "the output folds it to half-up integer cents. Relational "
    "extension.",
)
def sq_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_size").between(MINCOST_SIZE_LO, MINCOST_SIZE_HI)
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == MINCOST_REGION)
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("supply_cost")
    )
    w = Window.partitionBy("l_partkey").orderBy("supply_cost", "l_suppkey")
    best = cost.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        best.join(F.broadcast(p), best.l_partkey == p.p_partkey)
        .join(F.broadcast(s), best.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "p_partkey",
            "p_name",
            "s_suppkey",
            "s_name",
            "n_name",
            F.floor(F.col("supply_cost") * 100 + 0.5)
            .cast("long")
            .alias("cost_cents"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q4 shape: order-priority checking — EXISTS decorrelated to a
# left-semi join with a non-equi residual condition
# ---------------------------------------------------------------------------

PRIO_Q_START = "1997-01-01"
PRIO_Q_END = "1997-04-01"
PRIO_LATE_DAYS = 30


@_register(
    "sq_order_priority",
    f"""
    SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '{PRIO_Q_START}'
      AND o.o_orderdate < TIMESTAMP '{PRIO_Q_END}'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL {PRIO_LATE_DAYS} DAY
      )
    GROUP BY 1
    """,
    doc="TPC-H Q4 shape (order-priority checking): count orders per "
    "priority in one quarter that have at least one line shipped "
    "more than 30 days after the order date. The EXISTS "
    "decorrelates to a LEFT SEMI hash join on l_orderkey with the "
    "date comparison as the join residual — one pass over each "
    "side, no duplicate-amplifying inner join, then a 5-group "
    "map-side-combinable count. All-integer output. Relational "
    "extension.",
)
def sq_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(PRIO_Q_START).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(PRIO_Q_END).cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {PRIO_LATE_DAYS} DAYS"
    )
    return (
        o.join(li, (o.o_orderkey == li.l_orderkey) & late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q9 shape: product-type profit by nation and year — the
# star-join rollup (fact x 3 broadcast dims, two-key aggregate)
# ---------------------------------------------------------------------------

PROFIT_PART_TOKEN = "red"


@_register(
    "sq_nation_profit",
    f"""
    SELECT n.n_name AS nation,
           CAST(date_part('year', l.l_shipdate) AS INT) AS o_year,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(18,4))) * 10000 AS BIGINT)
             AS profit_x1e4
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
      AND p.p_name LIKE '%{PROFIT_PART_TOKEN}%'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY 1, 2
    """,
    doc="TPC-H Q9 shape (product-type profit): revenue of the "
    "name-filtered parts rolled up by supplier nation and ship "
    "year. Canonical star join — the lineitem fact streams through "
    "three broadcast-hash joins (part filter prunes first, then "
    "supplier -> nation), no fact-side shuffle until the final "
    "(nation, year) aggregate, which partial-aggregates map-side. "
    "Revenue folds as exact DECIMAL(18,4) (order-free) and ships "
    "as a scaled BIGINT. Relational extension.",
)
def sq_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_name").contains(PROFIT_PART_TOKEN)
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    amount = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("int").alias("o_year"),
        )
        .agg((F.sum(amount) * 10000).cast("long").alias("profit_x1e4"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q11 shape: important parts — HAVING against a global scalar
# subquery, decorrelated to a 1-row broadcast; all-integer compare
# ---------------------------------------------------------------------------

# keep parts whose value exceeds IMPORTANT_NUM/IMPORTANT_DEN times the
# MEAN per-part value: vc * n * DEN > NUM * total  (exact integers)
IMPORTANT_NUM = 11
IMPORTANT_DEN = 10


@_register(
    "sq_important_parts",
    f"""
    WITH pv AS (
      SELECT l_partkey,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS value_cents
      FROM lineitem GROUP BY 1
    ),
    tot AS (
      SELECT sum(value_cents) AS t, count(*) AS n FROM pv
    )
    SELECT l_partkey AS p_partkey, value_cents
    FROM pv CROSS JOIN tot
    WHERE value_cents * n * {IMPORTANT_DEN} > {IMPORTANT_NUM} * t
    """,
    doc="TPC-H Q11 shape (important stock): per-part total lineitem "
    "value, keeping parts above 1.1x the mean per-part value. The "
    "global 'HAVING sum > (SELECT fraction * total)' scalar "
    "subquery decorrelates to a 1-row aggregate broadcast back "
    "onto the grouped relation (the per-part aggregate is computed "
    "once and feeds both sides — no second lineitem scan). The "
    "threshold compares exact integers (value * n * den > num * "
    "total), so no fp promotion can flip boundary parts — the "
    "failure mode ADVICE.md flagged on sq_idle_rich_customers. "
    "Relational extension.",
)
def sq_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("value_cents")
    )
    tot = pv.agg(
        F.sum("value_cents").alias("t"), F.count(F.lit(1)).alias("n")
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(
            F.col("value_cents") * F.col("n") * IMPORTANT_DEN
            > IMPORTANT_NUM * F.col("t")
        )
        .select(F.col("l_partkey").alias("p_partkey"), "value_cents")
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 shape: supplier variety per part attribute — distinct
# part-supplier relation, NOT-IN exclusion as a left-anti join,
# count-distinct aggregate
# ---------------------------------------------------------------------------

VARIETY_EXCL_BRAND = "Brand#1"
VARIETY_MAX_SIZE = 25


@_register(
    "sq_supplier_variety",
    f"""
    WITH ps AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    )
    SELECT p.p_brand, p.p_type,
           CAST(count(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM ps
    JOIN part p ON p.p_partkey = ps.l_partkey
      AND p.p_brand <> '{VARIETY_EXCL_BRAND}'
      AND p.p_size <= {VARIETY_MAX_SIZE}
    WHERE ps.l_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
    )
    GROUP BY 1, 2
    """,
    doc="TPC-H Q16 shape (parts/supplier relationship): how many "
    "distinct suppliers can deliver each (brand, type), excluding a "
    "brand, large sizes, and suppliers on a complaint proxy list "
    "(negative account balance; the schema has no s_comment). The "
    "part-supplier relation is the distinct projection of lineitem; "
    "the NOT IN decorrelates to a broadcast LEFT ANTI join (the "
    "exclusion list is tiny and provably NULL-free, so anti-join "
    "and NOT IN agree); the count-distinct aggregate partial-"
    "deduplicates map-side. All-integer output. Relational "
    "extension.",
)
def sq_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != VARIETY_EXCL_BRAND)
        & (F.col("p_size") <= VARIETY_MAX_SIZE)
    )
    excl = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    ps = li.select("l_partkey", "l_suppkey").distinct()
    return (
        ps.join(
            F.broadcast(excl), ps.l_suppkey == excl.s_suppkey, "left_anti"
        )
        .join(F.broadcast(p), ps.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q20 shape: dominant suppliers — a semi-join chain derived
# from aggregates (supplier shipped more than half a part's volume)
# ---------------------------------------------------------------------------

DOMINANT_PART_TOKEN = "red"
DOMINANT_YEAR_START = "1997-01-01"
DOMINANT_YEAR_END = "1998-01-01"


@_register(
    "sq_dominant_suppliers",
    f"""
    WITH flt AS (
      SELECT p_partkey FROM part
      WHERE p_name LIKE '%{DOMINANT_PART_TOKEN}%'
    ),
    sp AS (
      SELECT l_partkey, l_suppkey,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '{DOMINANT_YEAR_START}'
        AND l_shipdate < TIMESTAMP '{DOMINANT_YEAR_END}'
        AND l_partkey IN (SELECT p_partkey FROM flt)
      GROUP BY 1, 2
    ),
    pt AS (
      SELECT l_partkey, sum(qty) AS total_qty FROM sp GROUP BY 1
    ),
    sel AS (
      SELECT DISTINCT sp.l_suppkey
      FROM sp JOIN pt ON pt.l_partkey = sp.l_partkey
      WHERE 2 * sp.qty > pt.total_qty
    )
    SELECT s.s_suppkey, s.s_name, n.n_name
    FROM supplier s
    JOIN sel ON sel.l_suppkey = s.s_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    """,
    doc="TPC-H Q20 shape (potential part promotion): suppliers who "
    "shipped MORE THAN HALF of some name-filtered part's 1997 "
    "volume — a chain of aggregate-derived semi-joins (the "
    "availqty comparison adapts to shipped-share dominance; no "
    "partsupp table). The part filter broadcasts into the lineitem "
    "scan as a semi-join, per-(part,supplier) and per-part volumes "
    "come from ONE aggregation pass reused on both sides of the "
    "dominance predicate, and the surviving supplier keys "
    "semi-join back to the supplier dimension. Quantities are "
    "integral by construction, so 2*q > total is exact. Relational "
    "extension.",
)
def sq_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(DOMINANT_YEAR_START).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(DOMINANT_YEAR_END).cast("timestamp"))
    )
    flt = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").contains(DOMINANT_PART_TOKEN))
        .select("p_partkey")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    sp = (
        li.join(F.broadcast(flt), li.l_partkey == flt.p_partkey, "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"))
    )
    pt = sp.groupBy("l_partkey").agg(F.sum("qty").alias("total_qty"))
    sel = (
        sp.join(pt, "l_partkey")
        .filter(2 * F.col("qty") > F.col("total_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(sel), s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
    )


# ---------------------------------------------------------------------------
# small-file compaction planner — the OPTIMIZE/rewrite planner for a
# date-partitioned table: pack per-partition "files" into
# target-sized output groups in partition order (next-fit by
# cumulative size, deterministic and shuffle-light)
# ---------------------------------------------------------------------------

COMPACT_TARGET_BYTES = 4096


@_register(
    "dv_compaction_plan",
    f"""
    WITH f AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(length(props)) AS BIGINT) AS bytes
      FROM events GROUP BY 1, 2
    ),
    p AS (
      SELECT event_type, d, n_rows, bytes,
             COALESCE(sum(bytes) OVER (
               PARTITION BY event_type ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM f
    )
    SELECT event_type,
           CAST(cum_before // {COMPACT_TARGET_BYTES} AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(n_rows) AS BIGINT) AS n_rows,
           CAST(sum(bytes) AS BIGINT) AS bytes,
           min(d) AS first_day, max(d) AS last_day
    FROM p GROUP BY 1, 2
    """,
    doc="Small-file compaction plan: model each (event_type, day) "
    "partition as one file, then assign files IN PARTITION ORDER "
    "to ~target-sized output groups by next-fit on the running "
    "byte total (bin = floor(cumulative_bytes_before / target) — "
    "the deterministic, SQL-expressible core of an OPTIMIZE/"
    "bin-packing rewrite planner; date order keeps each output "
    "group time-clustered, which preserves partition-pruning "
    "locality after the rewrite). One keyed cumulative window + "
    "one map-combinable rollup; dv_vacuum_plan is the deletion-side "
    "twin. All outputs are integers or day-aligned timestamps. "
    "Versioning/maintenance extension.",
)
def dv_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    f = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.length("props")).cast("long").alias("bytes"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    p = f.withColumn(
        "cum_before", F.coalesce(F.sum("bytes").over(w), F.lit(0))
    )
    return (
        p.groupBy(
            "event_type",
            F.expr(f"cum_before DIV {COMPACT_TARGET_BYTES}")
            .cast("long")
            .alias("bin"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("bytes").cast("long").alias("bytes"),
            F.min("d").alias("first_day"),
            F.max("d").alias("last_day"),
        )
    )


# ---------------------------------------------------------------------------
# hourly OHLC resample — open/high/low/close aggregation of the event
# value series (the time-series candlestick primitive)
# ---------------------------------------------------------------------------


@_register(
    "ts_ohlc_hourly",
    """
    WITH r AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, value,
             row_number() OVER (
               PARTITION BY event_type, date_trunc('hour', ts)
               ORDER BY ts, event_id) AS rf,
             row_number() OVER (
               PARTITION BY event_type, date_trunc('hour', ts)
               ORDER BY ts DESC, event_id DESC) AS rl
      FROM events
    )
    SELECT event_type, CAST(hr AS TIMESTAMP) AS hr,
           min(CASE WHEN rf = 1 THEN value END) AS open_v,
           max(value) AS high_v,
           min(value) AS low_v,
           min(CASE WHEN rl = 1 THEN value END) AS close_v,
           CAST(count(*) AS BIGINT) AS n_events
    FROM r GROUP BY 1, 2
    """,
    doc="Hourly OHLC (open/high/low/close) resample of the event "
    "value series per type — the candlestick/downsampling primitive "
    "of every metrics store. First/last are picked by total-order "
    "row_number (ts, then unique event_id), NOT by argmin/argmax "
    "whose tie behavior is engine-defined; open/close/high/low are "
    "all passthroughs of raw stored doubles (no arithmetic), so the "
    "output is hash-exact by construction. Two windows + one "
    "map-combinable rollup over the same hour key — a single "
    "shuffle. Temporal extension.",
    # r5 catalog-wide double scan: one of the last two never-checked
    # entries with raw-double outputs — all passthroughs (OHLC =
    # first/last/min/max), zero-doubt cents wrap
    scaled={"open_v": 2, "high_v": 2, "low_v": 2, "close_v": 2},
)
def ts_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hr = F.date_trunc("hour", "ts")
    wf = Window.partitionBy("event_type", hr).orderBy("ts", "event_id")
    wl = Window.partitionBy("event_type", hr).orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    r = ev.select(
        "event_type",
        hr.alias("hr"),
        "value",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wl).alias("rl"),
    )
    return r.groupBy("event_type", "hr").agg(
        F.min(F.when(F.col("rf") == 1, F.col("value"))).alias("open_v"),
        F.max("value").alias("high_v"),
        F.min("value").alias("low_v"),
        F.min(F.when(F.col("rl") == 1, F.col("value"))).alias("close_v"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# PQ asymmetric-distance (ADC) top-k search — the query-side
# completion of the ann_pq_codes compression trace
# ---------------------------------------------------------------------------


def _pq_adc_sql() -> str:
    sd = C.PQ_SUB_DIM
    fin = C.PQ_ITERS
    qdist = (
        f"round(list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, {sd} + 1), "
        f"i -> (q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i]))), "
        f"(x, y) -> x + y), 6)"
    )
    # deferred import (same pattern as queries_ext6): a module-level
    # `from .queries_ext3 import ...` breaks when a caller imports
    # queries_ext3 FIRST — queries_ext3 -> queries -> queries_ext5
    # re-enters the still-partially-initialized queries_ext3
    from .queries_ext3 import _pq_cte_parts

    parts = _pq_cte_parts()
    parts.append(
        f"""qids AS (
      SELECT vec_id AS query_id FROM base
      WHERE vec_id % {C.ADC_QUERY_STRIDE} = {C.ADC_QUERY_OFFSET}
      ORDER BY vec_id LIMIT {C.ADC_N_QUERIES}
    )"""
    )
    parts.append(
        """qsub AS (
      SELECT q.query_id, s.m, s.sv
      FROM sub s JOIN qids q ON s.vec_id = q.query_id
    )"""
    )
    parts.append(
        f"""lut AS (
      SELECT q.query_id, c.m, c.cid,
             CAST(round({qdist} * 1000000) AS BIGINT) AS lut_x1e6
      FROM qsub q JOIN c{fin} c ON c.m = q.m
    )"""
    )
    parts.append(
        """adc AS (
      SELECT l.query_id, a.vec_id,
             CAST(sum(l.lut_x1e6) AS BIGINT) AS adc_x1e6
      FROM af a JOIN lut l ON l.m = a.m AND l.cid = a.cid
      WHERE a.vec_id <> l.query_id
      GROUP BY 1, 2
    )"""
    )
    parts.append(
        """ranked AS (
      SELECT query_id, vec_id, adc_x1e6,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY adc_x1e6, vec_id)
               AS INT) AS rk
      FROM adc
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT * FROM ranked WHERE rk <= {C.ADC_TOP_K}"
    )


@_register(
    "ann_pq_adc",
    _pq_adc_sql,  # lazy: builder imports a queries_ext3 helper
    doc="PQ asymmetric-distance (ADC) top-k search (Jegou et al. "
    "2011 §IV — the query path of IVFADC): each query precomputes "
    "an m*k lookup table of squared distances from its RAW subspace "
    "vectors to every codeword, and every corpus candidate's "
    "approximate distance is the sum of m table lookups keyed by "
    "its ann_pq_codes code — the corpus is scanned as 4x4-bit "
    "codes, never as raw vectors. LUT entries are 6dp-rounded then "
    "scaled to exact BIGINT micro-units BEFORE the m-term sum, so "
    "ranking is an order-free integer comparison. Scale shape: the "
    "512-row LUT broadcasts; the code relation takes one "
    "broadcast-hash join and one map-combinable (query, vec) sum — "
    "the linear ADC scan that serves billion-vector search. "
    "LLM-pipeline extension (similarity-search family).",
)
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scale import similarity

    return similarity.pq_adc_topk(_t(spark, sf_dir, "embeddings"))
