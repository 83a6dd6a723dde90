"""Graph analytics over the reply-interaction user graph.

The reference's role-analysis subsystem (RoleAnalysisBolt.java,
NeighbourhoodBolt.java) already treats the tweet stream as an
implicit user graph (reply edges between authors); these operators
make that graph first-class and add the classic graph-analytics
trio a corpus/social pipeline needs: triangle participation,
neighbor-set similarity, and fixed-iteration PageRank.

Everything is expressed as DataFrame joins/aggregations so Catalyst
picks the physical join strategy:

- triangles: ordered-edge enumeration (u < v < w) — each triangle
  counted exactly once, the standard distributed formulation; at
  cluster scale you would additionally degree-order the endpoints to
  bound the join fan-out on hubs (skew), which changes only the
  ordering key, not the plan shape.
- neighbor Jaccard: wedge join on the shared-neighbor column with an
  id-ordered pair constraint — the same co-occurrence-join shape as
  MinHash-LSH candidate generation, so it scales the same way.
- PageRank: K unrolled join+aggregate rounds (no driver-side
  collect); per-round rounding at 1e-9 keeps the two engines'
  float sums convergent for the oracle while being far below any
  ranking-relevant difference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PR_DAMPING = 0.85
PR_ITERS = 3
JACCARD_MIN_COMMON = 2


def user_edges(tweets: DataFrame) -> DataFrame:
    """Undirected distinct reply edges (u < v) between authors.

    ``tweets`` has columns tweet_id, parent_id, author_id (the
    flatten output the role kernel also consumes).
    """
    c = tweets.alias("c")
    p = tweets.alias("p")
    return (
        c.join(p, F.col("c.parent_id") == F.col("p.tweet_id"))
        .where(F.col("c.author_id") != F.col("p.author_id"))
        .select(
            F.least("c.author_id", "p.author_id").alias("u"),
            F.greatest("c.author_id", "p.author_id").alias("v"),
        )
        .distinct()
    )


def directed_edges(tweets: DataFrame) -> DataFrame:
    """Distinct reply-direction edges: child author -> parent author."""
    c = tweets.alias("c")
    p = tweets.alias("p")
    return (
        c.join(p, F.col("c.parent_id") == F.col("p.tweet_id"))
        .where(F.col("c.author_id") != F.col("p.author_id"))
        .select(
            F.col("c.author_id").alias("src"),
            F.col("p.author_id").alias("dst"),
        )
        .distinct()
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-user triangle participation counts.

    ``edges`` must be distinct undirected edges with u < v. A
    triangle (a < b < c) is enumerated exactly once from e(a,b),
    e(b,c), e(a,c); each corner then contributes one row to its
    node's count.
    """
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("user_id"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def neighbor_jaccard(
    edges: DataFrame,
    min_common: int = JACCARD_MIN_COMMON,
    max_degree: int | None = None,
) -> DataFrame:
    """Jaccard similarity of neighbor sets for user pairs sharing
    at least ``min_common`` neighbors.

    Wedge join: adjacency joined to itself on the shared neighbor,
    id-ordered so each pair appears once. common / (deg_a + deg_b -
    common) is exact integer arithmetic until the final division.

    ``max_degree`` (VERDICT r1 item 10) caps hub adjacency lists
    BEFORE the wedge join: each node keeps its top-``max_degree``
    neighbors by a deterministic engine-independent order
    (md5(node:nb), nb). A shared neighbor of degree d contributes d^2
    wedges — on a skewed graph at 100x one celebrity otherwise
    dominates the whole shuffle; the cap bounds any neighbor's wedge
    fan-out at max_degree^2. Degrees (and therefore the Jaccard
    denominator) are computed on the capped sets, so the capped
    operator is exactly reproducible by any engine applying the same
    rule — it is a deterministic approximation, not a sample.
    """
    adj = edges.select(F.col("u").alias("node"), F.col("v").alias("nb")).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nb"))
    )
    if max_degree is not None:
        w = Window.partitionBy("node").orderBy(
            F.md5(F.concat_ws(":", F.col("node"), F.col("nb")).cast("binary")),
            F.col("nb"),
        )
        adj = (
            adj.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_degree)
            .drop("_rn")
        )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    a = adj.alias("a")
    b = adj.alias("b")
    common = (
        a.join(b, (F.col("a.nb") == F.col("b.nb")) & (F.col("a.node") < F.col("b.node")))
        .groupBy(F.col("a.node").alias("ua"), F.col("b.node").alias("ub"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )
    da = deg.alias("da")
    db = deg.alias("db")
    return (
        common.join(da, F.col("ua") == F.col("da.node"))
        .join(db, F.col("ub") == F.col("db.node"))
        .select(
            "ua",
            "ub",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("da.deg") + F.col("db.deg") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


PPR_SEED_STRIDE = 50


def personalized_pagerank(
    nodes: DataFrame,
    dedges: DataFrame,
    stride: int = PPR_SEED_STRIDE,
    iters: int = PR_ITERS,
    damping: float = PR_DAMPING,
) -> DataFrame:
    """Personalized PageRank: teleportation restricted to a seed set
    (node % ``stride`` == 0) instead of the uniform reset — the
    random-walk-with-restart relevance score used for crawl
    prioritization and seed-centric recommendation.

    Same deterministic recipe as :func:`pagerank` (fixed unrolled
    iterations, per-round 1e-9 rounding, dangling mass dropped
    identically on both engines); rank starts at and teleports back
    to 1/|seeds| on seeds, 0 elsewhere. Output
    (user_id, ppr_x1e6 BIGINT) — the 6dp-rounded score as an exact
    scaled int.

    Scale shape: identical to pagerank — one dst-keyed shuffle per
    round, the seed indicator is a pure expression (no seed-list
    join), so personalization adds zero network cost.
    """
    is_seed = (F.col("node") % stride == 0).cast("int")
    ns_df = nodes.filter(F.col("node") % stride == 0).agg(
        F.count(F.lit(1)).cast("double").alias("ns")
    )
    outdeg = dedges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # try_divide: a graph with NO seed nodes has ns == 0 — every rank
    # becomes NULL, matching DuckDB's x/0 in the unrolled replay
    # (rule 15; fuzzer-found ANSI crash)
    reset = F.round(F.try_divide(is_seed, F.col("ns")), 9)
    pr = nodes.crossJoin(F.broadcast(ns_df)).select(
        "node", reset.alias("pr"), "ns"
    )
    for _ in range(iters):
        contrib = (
            dedges.join(pr, dedges["src"] == pr["node"])
            .join(outdeg, "src")
            .select(F.col("dst"), (F.col("pr") / F.col("outdeg")).alias("w"))
        )
        incoming = contrib.groupBy("dst").agg(F.sum("w").alias("in_mass"))
        pr = (
            pr.select("node", "ns")
            .join(incoming, pr["node"] == incoming["dst"], "left")
            .select(
                "node",
                F.round(
                    (1.0 - damping) * F.try_divide(is_seed, F.col("ns"))
                    + damping * F.coalesce(F.col("in_mass"), F.lit(0.0)),
                    9,
                ).alias("pr"),
                "ns",
            )
        )
    return pr.select(
        F.col("node").alias("user_id"),
        F.round(F.round("pr", 6) * 1_000_000).cast("long").alias("ppr_x1e6"),
    )


def pagerank(
    nodes: DataFrame,
    dedges: DataFrame,
    iters: int = PR_ITERS,
    damping: float = PR_DAMPING,
) -> DataFrame:
    """Fixed-iteration PageRank, fully declarative (no collect loop).

    ``nodes``: one ``node`` column (every author, including
    isolated ones). ``dedges``: distinct (src, dst). Dangling mass
    is dropped identically on both engines. Each round's rank is
    rounded at 1e-9 so the oracle's sum order cannot drift across
    rounds; the output is rounded at 1e-6.
    """
    n_df = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    outdeg = dedges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    pr = nodes.crossJoin(F.broadcast(n_df)).select(
        "node", F.round(F.lit(1.0) / F.col("n"), 9).alias("pr"), "n"
    )
    for _ in range(iters):
        contrib = (
            dedges.join(pr, dedges["src"] == pr["node"])
            .join(outdeg, "src")
            .select(F.col("dst"), (F.col("pr") / F.col("outdeg")).alias("w"))
        )
        incoming = contrib.groupBy("dst").agg(F.sum("w").alias("in_mass"))
        pr = (
            pr.select("node", "n")
            .join(incoming, pr["node"] == incoming["dst"], "left")
            .select(
                "node",
                F.round(
                    (1.0 - damping) / F.col("n")
                    + damping * F.coalesce(F.col("in_mass"), F.lit(0.0)),
                    9,
                ).alias("pr"),
                "n",
            )
        )
    return pr.select(F.col("node").alias("user_id"), F.round("pr", 6).alias("pagerank"))


KCORE_K = 2
KCORE_ROUNDS = 3


def kcore_peel(
    edges: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS
) -> DataFrame:
    """Bounded-round k-core peeling: repeat ``rounds`` times — compute
    degrees over the surviving subgraph, drop nodes with degree < k
    and their incident edges.  Returns (user_id, degree) for nodes
    surviving all rounds with their final within-subgraph degree.

    Join-free rounds: the symmetric edge list is annotated with each
    endpoint's degree by ONE keyed window, then edges regroup on the
    undirected key keeping min(endpoint degree) >= k — "both
    endpoints survive" without any join (an edge survives iff its
    weaker endpoint does).  Two keyed shuffles per round, unrolled
    like pagerank/kmeans (no driver loop state); each round's edge
    set is pinned because the next round branches over it.  Full
    convergence needs <= degeneracy rounds; the fixed small bound is
    part of the query's declared semantics, so the oracle replays
    the identical trace.  ``edges`` are distinct undirected (u < v).
    """
    e = edges.persist()
    wdeg = Window.partitionBy("node")
    prev_n = e.count()
    for _ in range(rounds):
        prev_e = e
        sym = e.select(
            F.col("u").alias("node"), F.col("v").alias("other")
        ).unionByName(e.select(F.col("v").alias("node"), F.col("u").alias("other")))
        ann = sym.withColumn("deg", F.count(F.lit(1)).over(wdeg))
        e = (
            ann.groupBy(
                F.least("node", "other").alias("u"),
                F.greatest("node", "other").alias("v"),
            )
            .agg(F.min("deg").alias("_mdeg"))
            .filter(F.col("_mdeg") >= k)
            .select("u", "v")
            .persist()
        )
        # peeling is a monotone fixpoint: an unchanged edge COUNT means
        # no node fell below k, so every further round is an identity —
        # skip them (only this scalar ever reaches the driver; results
        # equal the full unroll, which the oracle still replays)
        n = e.count()
        # this round's frame is materialized — the previous round's
        # cache is no longer an input of anything; drop it so rounds
        # don't accumulate storage for the life of the session
        prev_e.unpersist()
        if n == prev_n:
            break
        prev_n = n
    sym = e.select(F.col("u").alias("user_id")).unionByName(
        e.select(F.col("v").alias("user_id"))
    )
    # the per-node result is small: materialize it from the last
    # round's cache, then release that cache too
    out = (
        sym.groupBy("user_id").agg(F.count(F.lit(1)).alias("degree")).localCheckpoint()
    )
    e.unpersist()
    return out


LPA_ROUNDS = 4


def label_propagation(edges: DataFrame, rounds: int = LPA_ROUNDS) -> DataFrame:
    """Synchronous label propagation communities over the undirected
    reply graph: every node simultaneously adopts the MODE of its
    neighbors' labels (ties -> smallest label), for a fixed number of
    rounds — deterministic, so the DuckDB oracle replays the exact
    same trace with unrolled CTE rounds.

    Distinct from connected components: LPA finds densely-connected
    COMMUNITIES (labels stop flowing across sparse cuts), components
    only reachability.

    Shape per round: one hash join (labels onto the symmetric edge
    list) + one count + one per-node rank window — all keyed by node,
    no global sort, no driver data. Fixed ``rounds`` bounds the plan.
    The CONVERGED label frame is localCheckpoint-ed: it is consumed
    at least twice (community sizes + the join-back, and modularity
    adds three more references) and without the cut every consumer
    re-executes the full unrolled trace — measured 3x end-to-end on
    gr_modularity at sf0.1.

    Returns (user_id, community_id, community_size).
    """
    sym = edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).union(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    labels = sym.select("node").distinct().withColumn("label", F.col("node"))
    w = Window.partitionBy("node").orderBy(F.desc("_c"), F.asc("label"))
    for _ in range(rounds):
        nl = (
            sym.withColumnRenamed("node", "_n")
            .join(labels, F.col("nbr") == F.col("node"))
            .select(F.col("_n").alias("node"), "label")
        )
        cnt = nl.groupBy("node", "label").agg(F.count(F.lit(1)).alias("_c"))
        labels = (
            cnt.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("node", "label")
        )
    # one narrow (node, label) row per vertex; every consumer below
    # (and gr_modularity's three label references) reuses the
    # materialized trace instead of re-running 4 rounds of
    # join+count+rank
    labels = labels.localCheckpoint()
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("community_size")
    )
    return labels.join(sizes, "label").select(
        F.col("node").alias("user_id"),
        F.col("label").alias("community_id"),
        "community_size",
    )


HITS_ITERS = 2


def hits(
    nodes: DataFrame, dedges: DataFrame, iters: int = HITS_ITERS
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999): mutually-reinforcing
    hub and authority scores over the directed reply graph — the
    link-analysis complement of :func:`pagerank` (good hubs reply to
    good authorities; the reference's role analysis separates the
    same populations heuristically, RoleAnalysisBolt.java rule
    cascade).

    Declared semantics (both engines replay the identical trace):
    scores start at 1.0; each round computes raw authority = sum of
    in-neighbor hub scores and raw hub = sum of out-neighbor NEW
    authority scores, each normalized by the round's MAX raw score —
    max (unlike the textbook L2 norm) is aggregation-order-INdependent,
    so cross-engine parity needs only the per-node sum rounding.
    Every per-node sum is rounded at 1e-9 before the max/divide, like
    the pagerank kernel.

    Scale: per round two keyed shuffles (groupBy dst, groupBy src)
    plus one scalar max broadcast back — the standard iterate shape;
    no driver loop state, no collect.
    """
    a = nodes.select("node", F.lit(1.0).alias("a"))
    h = nodes.select("node", F.lit(1.0).alias("h"))
    for _ in range(iters):
        ra = (
            dedges.join(
                h.select(F.col("node").alias("src"), F.col("h").alias("hs")),
                "src",
            )
            .groupBy("dst")
            .agg(F.round(F.sum("hs"), 9).alias("raw_a"))
        )
        am = ra.agg(F.max("raw_a").alias("m"))
        a = (
            nodes.join(ra, nodes["node"] == ra["dst"], "left")
            .crossJoin(F.broadcast(am))
            .select(
                "node",
                F.round(
                    F.coalesce(F.col("raw_a"), F.lit(0.0)) / F.col("m"), 9
                ).alias("a"),
            )
        )
        rh = (
            dedges.join(
                a.select(F.col("node").alias("dst"), F.col("a").alias("asc")),
                "dst",
            )
            .groupBy("src")
            .agg(F.round(F.sum("asc"), 9).alias("raw_h"))
        )
        hm = rh.agg(F.max("raw_h").alias("m"))
        h = (
            nodes.join(rh, nodes["node"] == rh["src"], "left")
            .crossJoin(F.broadcast(hm))
            .select(
                "node",
                F.round(
                    F.coalesce(F.col("raw_h"), F.lit(0.0)) / F.col("m"), 9
                ).alias("h"),
            )
        )
    return (
        a.join(h, "node")
        .select(
            F.col("node").alias("user_id"),
            F.round(F.col("a") * 1_000_000).cast("long").alias("auth_x1e6"),
            F.round(F.col("h") * 1_000_000).cast("long").alias("hub_x1e6"),
        )
    )


def local_clustering(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient: closed wedges at the
    node / possible wedges, ``lcc = 2*tri / (deg*(deg-1))`` — the
    community-cohesion score the global triangle count cannot give.

    All-integer output (``DIV`` x1e4): triangle counts and degrees
    are exact BIGINTs, so the coefficient ships hash-exact.  Reuses
    the ordered-edge triangle kernel (one extra symmetric-degree
    aggregation); nodes of degree < 2 report lcc 0.

    ``edges``: distinct undirected, u < v.
    """
    deg = (
        edges.select(F.col("u").alias("user_id"))
        .unionByName(edges.select(F.col("v").alias("user_id")))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = triangle_counts(edges)
    return (
        deg.join(tri, "user_id", "left")
        .select(
            "user_id",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
        )
        .withColumn(
            "lcc_x1e4",
            F.when(
                F.col("degree") >= 2,
                F.expr("(n_triangles * 2 * 10000) DIV (degree * (degree - 1))"),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
    )


KHOP_HOPS = 3


def khop_reach(
    seeds: DataFrame, edges: DataFrame, hops: int = KHOP_HOPS
) -> DataFrame:
    """Bounded-hop BFS from a seed set over the undirected graph:
    (user_id, hop) with the MINIMUM hop count <= ``hops`` — the
    influence-reach / contamination-spread primitive (who is within
    k introductions of a flagged account).

    Frontier-expansion rounds, unrolled like pagerank/kcore: each
    round joins the previous frontier to the symmetric adjacency and
    anti-joins everything already reached, so a node's hop is its
    first discovery round (= min distance).  All-integer — trivially
    hash-exact.  Per round one keyed join + one anti join; the
    subtrees the rounds share are computed once by runtime exchange
    reuse.

    ``seeds``: one ``node`` column; ``edges``: distinct undirected
    u < v.
    """
    sym = edges.select(
        F.col("u").alias("node"), F.col("v").alias("nb")
    ).unionByName(edges.select(F.col("v").alias("node"), F.col("u").alias("nb")))
    reach = seeds.select("node", F.lit(0).alias("hop"))
    frontier = reach
    for h in range(1, hops + 1):
        nxt = (
            frontier.join(sym, "node")
            .select(F.col("nb").alias("node"))
            .distinct()
        )
        frontier = nxt.join(reach.select("node"), "node", "left_anti").select(
            "node", F.lit(h).alias("hop")
        )
        reach = reach.unionByName(frontier)
    return reach.select(F.col("node").alias("user_id"), F.col("hop").cast("long"))
