"""Catalog entries for graph analytics over the reply-derived user
graph (triangles, neighbor similarity, fixed-iteration PageRank).

The reference's role analysis (RoleAnalysisBolt.java,
NeighbourhoodBolt.java) consumes the same implicit graph; these make
it first-class. Oracle SQL shares the tweets-CTE with the role
queries so both engines derive identical edges, and every float is
rounded with the constants the Spark plans use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# shared CTE constants FIRST (pure literals): submodules like
# queries_ext4/queries_ext6 import them, and a graph-FIRST import
# re-enters this module via .queries before anything below the
# .queries import line exists (circular-import class, r5 fix)
# identical tweet/parent derivation to _ROLES_FEATS_CTE (queries.py)
_TW_CTE = """
WITH raw AS (
  SELECT event_id, user_id,
         CAST(json_extract_string(props, 'k') AS BIGINT) AS k
  FROM events
),
tw AS (
  SELECT event_id AS tweet_id,
         CASE WHEN event_id % 5 = 0 THEN NULL
              WHEN k % 3 = 0 THEN event_id - 1
              ELSE event_id - (event_id % 5) END AS parent_id,
         user_id AS author_id
  FROM raw
),
"""

_UEDGES_CTE = """
uedges AS (
  SELECT DISTINCT least(c.author_id, p.author_id) AS u,
                  greatest(c.author_id, p.author_id) AS v
  FROM tw c JOIN tw p ON c.parent_id = p.tweet_id
  WHERE c.author_id <> p.author_id
)
"""

_DEDGES_CTE = """
dedges AS (
  SELECT DISTINCT c.author_id AS src, p.author_id AS dst
  FROM tw c JOIN tw p ON c.parent_id = p.tweet_id
  WHERE c.author_id <> p.author_id
)
"""


from .ops import graph as G
from .queries import _ckpt_small, _event_edges, _register

@_register(
    "gr_triangles",
    _TW_CTE
    + _UEDGES_CTE
    + """
    , tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM uedges e1
      JOIN uedges e2 ON e2.u = e1.v
      JOIN uedges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT user_id, count(*) AS n_triangles FROM (
      SELECT a AS user_id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ) GROUP BY 1
    """,
    doc="Per-user triangle participation via ordered-edge enumeration "
    "(u<v<w counted once): two hash joins over the distinct edge set, "
    "then an explode+count. At cluster scale the endpoints would be "
    "degree-ordered to bound hub fan-out; the plan shape is identical. "
    "Graph-analytics extension of the role kernel's neighbor logic "
    "(NeighbourhoodBolt.java:41-77).",
)
def gr_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r8: edges referenced 3x by the triangle join — checkpoint once
    return G.triangle_counts(_ckpt_small(G.user_edges(_event_edges(spark, sf_dir))))


_GUARD_DEGREE = 32


@_register(
    "gr_neighbor_jaccard",
    _TW_CTE
    + _UEDGES_CTE
    + f"""
    , adj0 AS (
      SELECT u AS node, v AS nb FROM uedges
      UNION ALL SELECT v AS node, u AS nb FROM uedges
    ),
    adj AS (
      SELECT node, nb FROM (
        SELECT node, nb,
               row_number() OVER (
                 PARTITION BY node
                 ORDER BY md5(concat(CAST(node AS VARCHAR), ':', CAST(nb AS VARCHAR))), nb
               ) AS rn
        FROM adj0
      ) WHERE rn <= {_GUARD_DEGREE}
    ),
    deg AS (SELECT node, count(*) AS deg FROM adj GROUP BY 1),
    common AS (
      SELECT a.node AS ua, b.node AS ub, count(*) AS n_common
      FROM adj a JOIN adj b ON a.nb = b.nb AND a.node < b.node
      GROUP BY 1, 2 HAVING count(*) >= {G.JACCARD_MIN_COMMON}
    )
    SELECT ua, ub, n_common,
           round(n_common / (da.deg + db.deg - n_common), 6) AS jaccard
    FROM common
    JOIN deg da ON da.node = ua
    JOIN deg db ON db.node = ub
    """,
    doc="Neighbor-set Jaccard for user pairs sharing >=2 neighbors: "
    "wedge self-join on the shared-neighbor column (the same "
    "co-occurrence-join shape as MinHash-LSH candidate generation), "
    "integer set arithmetic until the final division. IN-PLAN CAP "
    "(VERDICT r6 #5 — the former uncapped form was the suite's #2 "
    "entry and quadratic in hub degree): adjacency is capped at the "
    "top-32 neighbors per node by the deterministic engine-"
    "independent (md5(node:nb), nb) order BEFORE the wedge join, "
    "bounding any shared neighbor's wedge fan-out at 32^2; degrees "
    "(and the Jaccard denominator) are computed on the capped sets, "
    "so the identical rule replays in the oracle — a deterministic "
    "approximation, not a sample. The uncapped exact form remains "
    "scale-bound-free in ops.graph.neighbor_jaccard for bounded "
    "inputs and is parity-tested in tests/test_graph.py. "
    "Graph-analytics extension.",
    scaled={"jaccard": 6},
)
def gr_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return G.neighbor_jaccard(
        _ckpt_small(G.user_edges(_event_edges(spark, sf_dir))), max_degree=_GUARD_DEGREE
    )


_CAP_DEGREE = 8


@_register(
    "gr_neighbor_jaccard_capped",
    _TW_CTE
    + _UEDGES_CTE
    + f"""
    , adj0 AS (
      SELECT u AS node, v AS nb FROM uedges
      UNION ALL SELECT v AS node, u AS nb FROM uedges
    ),
    adj AS (
      SELECT node, nb FROM (
        SELECT node, nb,
               row_number() OVER (
                 PARTITION BY node
                 ORDER BY md5(concat(CAST(node AS VARCHAR), ':', CAST(nb AS VARCHAR))), nb
               ) AS rn
        FROM adj0
      ) WHERE rn <= {_CAP_DEGREE}
    ),
    deg AS (SELECT node, count(*) AS deg FROM adj GROUP BY 1),
    common AS (
      SELECT a.node AS ua, b.node AS ub, count(*) AS n_common
      FROM adj a JOIN adj b ON a.nb = b.nb AND a.node < b.node
      GROUP BY 1, 2 HAVING count(*) >= {G.JACCARD_MIN_COMMON}
    )
    SELECT ua, ub, n_common,
           round(n_common / (da.deg + db.deg - n_common), 6) AS jaccard
    FROM common
    JOIN deg da ON da.node = ua
    JOIN deg db ON db.node = ub
    """,
    doc="Degree-capped neighbor Jaccard (VERDICT r1 item 10): hub "
    "adjacency capped at top-8 neighbors by deterministic "
    "(md5(node:nb), nb) order BEFORE the wedge join, bounding any "
    "shared neighbor's wedge fan-out at 64 — the skew-survival path "
    "for 100x graphs. Deterministic approximation: the identical cap "
    "rule is applied by the DuckDB oracle, so the hard signal checks "
    "it exactly.",
)
def gr_neighbor_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return G.neighbor_jaccard(
        _ckpt_small(G.user_edges(_event_edges(spark, sf_dir))), max_degree=_CAP_DEGREE
    )


def _pagerank_sql() -> str:
    d = G.PR_DAMPING
    base = (1.0 - d)  # noqa: F841 — formatted below with repr for parity
    sql = (
        _TW_CTE
        + _DEDGES_CTE
        + f"""
    , nodes AS (SELECT DISTINCT user_id AS node FROM events),
    outdeg AS (SELECT src, count(*) AS outdeg FROM dedges GROUP BY 1),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    pr0 AS (SELECT node, round(1.0 / n, 9) AS pr, n FROM nodes CROSS JOIN nn)
    """
    )
    for i in range(1, G.PR_ITERS + 1):
        sql += f"""
    , in{i} AS (
      SELECT e.dst, sum(p.pr / o.outdeg) AS in_mass
      FROM dedges e
      JOIN pr{i - 1} p ON p.node = e.src
      JOIN outdeg o ON o.src = e.src
      GROUP BY 1
    ),
    pr{i} AS (
      SELECT p.node,
             round({base!r} / p.n + {d!r} * coalesce(i.in_mass, 0.0), 9) AS pr,
             p.n
      FROM pr{i - 1} p LEFT JOIN in{i} i ON i.dst = p.node
    )
    """
    sql += f"""
    SELECT node AS user_id, round(pr, 6) AS pagerank FROM pr{G.PR_ITERS}
    """
    return sql


@_register(
    "gr_pagerank",
    _pagerank_sql(),
    doc="PageRank, 3 unrolled join+aggregate rounds over distinct "
    "reply-direction edges (damping 0.85, dangling mass dropped "
    "identically on both engines, per-round 1e-9 rounding for oracle "
    "float convergence). Fully declarative — no driver-side loop or "
    "collect; each round is one shuffle on dst. Graph-analytics "
    "extension.",
    scaled={"pagerank": 6},
)
def gr_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    tweets = _event_edges(spark, sf_dir)
    # r8: 3 unrolled rounds reference dedges/nodes repeatedly
    nodes = _ckpt_small(
        tweets.select(F.col("author_id").alias("node")).distinct(), 4
    )
    return G.pagerank(nodes, _ckpt_small(G.directed_edges(tweets)))


def _kcore_sql() -> str:
    k, rounds = G.KCORE_K, G.KCORE_ROUNDS
    parts = [_TW_CTE + _UEDGES_CTE + ", e0 AS (SELECT u, v FROM uedges)"]
    for i in range(rounds):
        parts.append(
            f""",
    d{i} AS (
      SELECT node, count(*) AS deg FROM (
        SELECT u AS node FROM e{i} UNION ALL SELECT v FROM e{i}
      ) GROUP BY 1
    ),
    keep{i} AS (SELECT node FROM d{i} WHERE deg >= {k}),
    e{i + 1} AS (
      SELECT e.u, e.v FROM e{i} e
      JOIN keep{i} a ON e.u = a.node
      JOIN keep{i} b ON e.v = b.node
    )"""
        )
    return (
        "".join(parts)
        + f"""
    SELECT node AS user_id, count(*) AS degree FROM (
      SELECT u AS node FROM e{rounds} UNION ALL SELECT v FROM e{rounds}
    ) GROUP BY 1
    """
    )


@_register(
    "gr_kcore",
    _kcore_sql(),
    doc="Bounded-round 2-core peeling (3 unrolled rounds, part of the "
    "declared semantics so the oracle replays the trace): per round "
    "one symmetric-degree aggregation + two keyed semi joins; the "
    "community-skeleton extraction that precedes dense-subgraph "
    "mining. Graph-analytics extension.",
)
def gr_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    return G.kcore_peel(_ckpt_small(G.user_edges(_event_edges(spark, sf_dir))))


def _lpa_cte_chain() -> str:
    """The CTE chain up to the converged label table ``l{rounds}``
    (shared by gr_label_propagation and gr_modularity)."""
    rounds = G.LPA_ROUNDS
    parts = [
        _TW_CTE
        + _UEDGES_CTE
        + """,
    sym AS (
      SELECT u AS node, v AS nbr FROM uedges
      UNION ALL SELECT v AS node, u AS nbr FROM uedges
    ),
    l0 AS (SELECT DISTINCT node, node AS label FROM sym)"""
    ]
    for i in range(rounds):
        parts.append(
            f""",
    n{i} AS (
      SELECT s.node, l.label, count(*) AS c
      FROM sym s JOIN l{i} l ON s.nbr = l.node
      GROUP BY 1, 2
    ),
    l{i + 1} AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, label ASC) AS rn
        FROM n{i})
      WHERE rn = 1
    )"""
        )
    return "".join(parts)


def _lpa_sql() -> str:
    rounds = G.LPA_ROUNDS
    return (
        _lpa_cte_chain()
        + f""",
    sizes AS (SELECT label, count(*) AS community_size
              FROM l{rounds} GROUP BY 1)
    SELECT l.node AS user_id, l.label AS community_id, s.community_size
    FROM l{rounds} l JOIN sizes s ON s.label = l.label
    """
    )


@_register(
    "gr_label_propagation",
    _lpa_sql(),
    doc="Synchronous label-propagation communities (4 unrolled "
    "rounds, mode-of-neighbors with min-label tie-break — fully "
    "deterministic, so the oracle replays the identical trace): "
    "labels stop flowing across sparse cuts, unlike connected "
    "components' pure reachability. Per round one "
    "keyed join + count + rank window. Graph-analytics extension.",
)
def gr_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return G.label_propagation(_ckpt_small(G.user_edges(_event_edges(spark, sf_dir))))


def _modularity_sql() -> str:
    rounds = G.LPA_ROUNDS
    return (
        _lpa_cte_chain()
        + f""",
    lab AS (SELECT node AS user_id, label AS community_id FROM l{rounds}),
    mrow AS (SELECT count(*) AS m FROM uedges),
    deg AS (SELECT node, count(*) AS d FROM sym GROUP BY 1),
    ec AS (
      SELECT la.community_id, count(*) AS in_edges
      FROM uedges e
      JOIN lab la ON la.user_id = e.u
      JOIN lab lb ON lb.user_id = e.v
      WHERE la.community_id = lb.community_id
      GROUP BY 1
    ),
    dc AS (
      SELECT l.community_id, count(*) AS n_nodes,
             CAST(sum(d.d) AS BIGINT) AS degree_sum
      FROM lab l JOIN deg d ON d.node = l.user_id
      GROUP BY 1
    )
    SELECT dc.community_id, n_nodes,
           CAST(coalesce(ec.in_edges, 0) AS BIGINT) AS in_edges,
           degree_sum, CAST(m AS BIGINT) AS m
    FROM dc LEFT JOIN ec ON dc.community_id = ec.community_id
    CROSS JOIN mrow
    """
    )


@_register(
    "gr_modularity",
    _modularity_sql(),
    doc="Community-quality profile for the LPA partition: per "
    "community its node count, internal edge count and degree sum "
    "alongside the global edge count m — the exact integer "
    "sufficient statistics of Newman modularity (Q = sum_c(in_c/m - "
    "(d_c/2m)^2); kept as integers rather than a pre-divided double "
    "so the output is hash-exact and Q is reconstructible at any "
    "precision). Plan: the LPA trace + one degree aggregate, one "
    "label-pair join, and a 1-row broadcast m. Graph-analytics "
    "extension.",
)
def gr_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r8: edges feed the 4-round LPA AND deg/m/ec — the heaviest reuse
    edges = _ckpt_small(G.user_edges(_event_edges(spark, sf_dir)))
    lab = G.label_propagation(edges).select("user_id", "community_id")
    sym = edges.select(F.col("u").alias("node")).unionAll(
        edges.select(F.col("v").alias("node"))
    )
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    m_row = edges.agg(F.count(F.lit(1)).alias("m"))
    la = lab.select(
        F.col("user_id").alias("u"), F.col("community_id").alias("ca")
    )
    lb = lab.select(
        F.col("user_id").alias("v"), F.col("community_id").alias("cb")
    )
    ec = (
        edges.join(la, "u")
        .join(lb, "v")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community_id"))
        .agg(F.count(F.lit(1)).alias("in_edges"))
    )
    dc = (
        lab.join(deg, lab.user_id == deg.node)
        .groupBy("community_id")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("d").cast("long").alias("degree_sum"),
        )
    )
    return (
        dc.join(ec, "community_id", "left")
        .crossJoin(F.broadcast(m_row))
        .select(
            "community_id",
            "n_nodes",
            F.coalesce("in_edges", F.lit(0)).cast("long").alias("in_edges"),
            "degree_sum",
            F.col("m").cast("long").alias("m"),
        )
    )


# ---------------------------------------------------------------------------
# degree assortativity
# ---------------------------------------------------------------------------


@_register(
    "gr_assortativity",
    _TW_CTE
    + _UEDGES_CTE
    + """
    , sym AS (
      SELECT u AS node, v AS nbr FROM uedges
      UNION ALL SELECT v AS node, u AS nbr FROM uedges
    ),
    deg AS (SELECT node, count(*) AS d FROM sym GROUP BY 1),
    ends AS (
      SELECT da.d AS du, db.d AS dv
      FROM sym s
      JOIN deg da ON da.node = s.node
      JOIN deg db ON db.node = s.nbr
    ),
    stats AS (
      SELECT count(*) AS n,
             CAST(sum(du) AS BIGINT) AS sx,
             CAST(sum(du * du) AS BIGINT) AS sxx,
             CAST(sum(du * dv) AS BIGINT) AS sxy
      FROM ends
    )
    SELECT n AS n_edge_ends, sx AS sum_deg, sxx AS sum_deg_sq,
           sxy AS sum_deg_prod,
           CAST(n * sxy - sx * sx AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) AS assortativity
    FROM stats
    """,
    doc="Degree assortativity of the reply graph: Pearson correlation "
    "of endpoint degrees over the symmetric edge-end list (Newman's "
    "r) — negative r means hubs attach to leaves (broadcast-shaped "
    "discourse), positive means hub-hub cores; decides whether "
    "degree-capped neighborhood ops (gr_neighbor_jaccard_capped) "
    "lose mass. Exact INTEGER sufficient statistics (sums of "
    "degrees/products — symmetry makes the x and y moments "
    "identical) with ONE double division at the end; two keyed "
    "joins + one global fold, no windows. Graph-analytics extension.",
    # r5 tie sweep (rule 16): raw bit-identical double, portable half-up
    scaled={"assortativity": 6},
    portable=True,
)
def gr_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _ckpt_small(G.user_edges(_event_edges(spark, sf_dir)))
    sym = edges.select(
        F.col("u").alias("node"), F.col("v").alias("nbr")
    ).unionAll(edges.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    da = deg.select(F.col("node").alias("_na"), F.col("d").alias("du"))
    db = deg.select(F.col("node").alias("_nb"), F.col("d").alias("dv"))
    ends = sym.join(da, sym.node == da._na).join(db, sym.nbr == db._nb)
    stats = ends.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("du").cast("long").alias("sx"),
        F.sum(F.col("du") * F.col("du")).cast("long").alias("sxx"),
        F.sum(F.col("du") * F.col("dv")).cast("long").alias("sxy"),
    )
    n, sx, sxx, sxy = F.col("n"), F.col("sx"), F.col("sxx"), F.col("sxy")
    return stats.select(
        n.alias("n_edge_ends"),
        sx.alias("sum_deg"),
        sxx.alias("sum_deg_sq"),
        sxy.alias("sum_deg_prod"),
        # try_divide: a degree-regular graph has zero variance; NULL
        # matches DuckDB's x/0.0 (its double division yields NULL,
        # not inf) — verified parity class, ANSI mode raises otherwise.
        # Raw single division of exact ints; portable wrap (rule 16).
        F.try_divide(
            (n * sxy - sx * sx).cast("double"),
            (n * sxx - sx * sx).cast("double"),
        ).alias("assortativity"),
    )
