"""Role-analysis kernel (SURVEY.md §2.7).

Recovered from bytecode of the reference's binary analytics jar
(reveal-interaction-1.0.jar!CommunityAnalysis#analyseUserFeatures,
RoleAssociation#process/#assignRole; invoked from
roleAnalysisTopology/.../bolts/RoleAnalysisBolt.java:96 with
minLimit=1). Input is the flat discussion forest of one community as
a node table (tweet_id, parent_id, author_id); the reference's
recursive Community structure maps to:

- features: per-user counts/ratios/avg/sample-stddev,
- levels: exact tercile boundaries over the community (Boundaries#train),
- roles: the 8-rule cascade, last match wins — plus the
  bug-compatible mode where every user ends as "<None>" (the
  decompiled assignRole unconditionally overwrites the role at the
  end; SURVEY.md §2.7 replication note).

Two implementations share ``LEVEL_FEATURES`` and ``ROLE_RULES``:

- the DataFrame kernel (:func:`with_root_ids` -> :func:`role_features`
  -> :func:`tercile_levels` -> :func:`assign_roles`) treats its whole
  input as ONE community and distributes it — the catalog's a3 entries
  run it over the corpus-wide event forest;
- :func:`window_roles` is the same arithmetic in plain Python over one
  window's edge list, the unit the reference's RoleAnalysisBolt
  analyses (RoleAnalysisBolt.java:84-120). The role pipeline runs it
  once per closed window inside a single ``mapInArrow`` pass
  (pipelines/role_analysis.py); a window's user population is bounded
  by the window, so the per-row work is small.

Scale notes (DataFrame kernel): every step is a keyed aggregation or a
self-join on tweet_id/parent_id — shuffle-partitioned by Catalyst.
Root discovery is an iterative bounded-depth join (tree depth is
bounded in practice).
"""

from __future__ import annotations

import math
from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The 7 rule features, in the reference's order.
LEVEL_FEATURES = (
    "in_degree_ratio",
    "posts_reply_ratio",
    "thread_initiation_ratio",
    "bidir_neighbour_ratio",
    "bidir_thread_ratio",
    "avg_posts_per_thread",
    "stddev_posts_per_thread",
)

ROLE_RULES: tuple[tuple[str, dict[str, str]], ...] = (
    ("Elitist", {"in_degree_ratio": "low", "bidir_thread_ratio": "high", "bidir_neighbour_ratio": "low"}),
    ("Grunt", {"bidir_thread_ratio": "med", "bidir_neighbour_ratio": "med", "avg_posts_per_thread": "low", "stddev_posts_per_thread": "low"}),
    ("Joining Conversationalist", {"thread_initiation_ratio": "low", "avg_posts_per_thread": "high", "stddev_posts_per_thread": "high"}),
    ("Popular Initiator", {"in_degree_ratio": "high", "avg_posts_per_thread": "high"}),
    ("Popular Participant", {"in_degree_ratio": "high", "thread_initiation_ratio": "low", "avg_posts_per_thread": "med", "stddev_posts_per_thread": "med"}),
    ("Supporter", {"in_degree_ratio": "med", "bidir_thread_ratio": "med", "bidir_neighbour_ratio": "med"}),
    ("Taciturn", {"bidir_thread_ratio": "low", "bidir_neighbour_ratio": "low", "avg_posts_per_thread": "low", "stddev_posts_per_thread": "low"}),
    ("Ignored", {"posts_reply_ratio": "low"}),
)


def _doubling_steps(max_depth: int) -> int:
    return max(1, math.ceil(math.log2(max(max_depth, 2))))


def with_root_ids(nodes: DataFrame, max_depth: int = 16) -> DataFrame:
    """Attach root_id (discussion-tree id) to each node by following
    parent pointers to the root — POINTER DOUBLING, not a linear
    walk: after k self-joins every node knows its 2^k-th ancestor,
    so forests of depth ``max_depth`` resolve in ceil(log2(depth))
    joins instead of ``depth``. At 100 TB that's the difference
    between 4 shuffles and 16+ on the critical path.

    The reference walks the recursive `replies` structure
    (StormCommunityFactory#parseCommunity); flat edges need the walk
    made explicit. Each step is a hash join on the id — distributed,
    no driver recursion.

    Each pass joins the previous pass with itself, so the plan holds
    2^k copies of the scan; the copies are identical subtrees, and
    runtime exchange reuse computes each pass's two shuffles once.
    """
    cur = nodes.select("tweet_id", F.coalesce("parent_id", "tweet_id").alias("_anc"))
    for i in range(_doubling_steps(max_depth)):
        # fresh aliases each iteration: aliasing mints new attribute
        # ids, avoiding Spark's ambiguous-self-join trap
        nxt = cur.select(F.col("tweet_id").alias(f"_pid{i}"), F.col("_anc").alias(f"_pa{i}"))
        cur = cur.join(nxt, cur["_anc"] == nxt[f"_pid{i}"], "left").select(
            cur["tweet_id"],
            # anc(anc(x)): doubles the resolved distance every pass;
            # roots self-map so converged pointers stay fixed
            F.coalesce(nxt[f"_pa{i}"], cur["_anc"]).alias("_anc"),
        )
    return nodes.join(cur.withColumnRenamed("_anc", "root_id"), "tweet_id")


def role_features(nodes: DataFrame, min_limit: int = 1, max_depth: int = 16) -> DataFrame:
    """Per-user behaviour features over one community.

    ``nodes``: (tweet_id, parent_id, author_id[, root_id]); if
    root_id is absent it is derived via :func:`with_root_ids`.
    Mirrors CommunityAnalysis#analyseUserFeatures (SURVEY.md §2.7):
    question/answer/comment counts are structurally zero in the
    Twitter path (DiscussionNode.type never set), so
    thread_initiation_ratio is 0 for every user — kept as a real
    column because the tercile/rule machinery consumes it.
    """
    if "root_id" not in nodes.columns:
        nodes = with_root_ids(nodes, max_depth=max_depth)
    nodes = nodes.filter(F.col("author_id").isNotNull())

    # parent author per node
    par = nodes.select(F.col("tweet_id").alias("_p_id"), F.col("author_id").alias("parent_author"))
    child = nodes.select(F.col("parent_id").alias("_c_id"), F.col("author_id").alias("child_author"))
    contrib = nodes.select(
        F.col("tweet_id").alias("_c_id"),
        F.col("author_id").alias("user_id"),
        F.col("parent_id").alias("_c_parent"),
    )
    pairs = (
        contrib.join(child, ["_c_id"])
        .join(par, contrib._c_parent == par._p_id, "left")
        .select("_c_id", "user_id", "child_author", "parent_author")
    )

    # ONE shuffled aggregation for replied/neighbour/bidir stats
    # (conditional distinct-aggs; collect_set for the union-set size)
    # instead of three separate groupBys over the same pair frame —
    # at scale that is 1 shuffle of `pairs` rather than 3.
    bidir_cond = F.col("child_author") == F.col("parent_author")
    pair_stats = pairs.groupBy("user_id").agg(
        F.countDistinct("_c_id").alias("replied_posts"),
        F.countDistinct("child_author").alias("n_replying_users"),
        F.size(
            F.array_union(
                F.collect_set("child_author"), F.collect_set("parent_author")
            )
        ).alias("n_neighbours"),
        F.countDistinct(F.when(bidir_cond, F.col("child_author"))).alias(
            "n_bidir_neighbours"
        ),
        F.countDistinct(F.when(bidir_cond, F.col("_c_id"))).alias("bidir_threads"),
    )

    posts = nodes.groupBy(F.col("author_id").alias("user_id")).agg(
        F.count(F.lit(1)).alias("post_count")
    )

    tree_sizes = nodes.groupBy("root_id").agg(F.count(F.lit(1)).alias("tree_size"))
    user_trees = (
        nodes.select(F.col("author_id").alias("user_id"), "root_id")
        .distinct()
        .join(tree_sizes, ["root_id"])
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_trees"),
            F.sum("tree_size").alias("sum_tree_sizes"),
            F.sum(F.col("tree_size") * F.col("tree_size")).alias("sum_tree_sizes_sq"),
        )
    )

    n_users = nodes.select(F.countDistinct("author_id").alias("n_community_users"))
    feats = (
        posts.crossJoin(F.broadcast(n_users))
        .join(pair_stats, ["user_id"], "left")
        .join(user_trees, ["user_id"], "left")
        .fillna(
            0,
            subset=[
                "replied_posts",
                "n_replying_users",
                "n_neighbours",
                "n_bidir_neighbours",
                "bidir_threads",
                "n_trees",
                "sum_tree_sizes",
                "sum_tree_sizes_sq",
            ],
        )
        .filter(F.col("post_count") >= min_limit)
    )

    def ratio(num, den):
        return F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(F.lit(0.0))

    n = F.col("n_trees")
    ssum = F.col("sum_tree_sizes")
    ssq = F.col("sum_tree_sizes_sq")
    return feats.select(
        "user_id",
        "post_count",
        "replied_posts",
        "n_replying_users",
        "n_neighbours",
        "n_bidir_neighbours",
        "bidir_threads",
        ratio(F.col("n_replying_users"), F.col("n_community_users")).alias("in_degree_ratio"),
        ratio(F.col("replied_posts"), F.col("post_count")).alias("posts_reply_ratio"),
        F.lit(0.0).alias("thread_initiation_ratio"),
        ratio(F.col("n_bidir_neighbours"), F.col("n_neighbours")).alias("bidir_neighbour_ratio"),
        ratio(F.col("bidir_threads"), F.col("post_count")).alias("bidir_thread_ratio"),
        ratio(ssum, n).alias("avg_posts_per_thread"),
        F.when(
            n >= 2,
            F.sqrt((n * ssq - ssum * ssum).cast("double") / (n * (n - F.lit(1))).cast("double")),
        )
        .otherwise(F.lit(0.0))
        .alias("stddev_posts_per_thread"),
    )


def tercile_levels(
    features: DataFrame, feature_cols: tuple[str, ...] = LEVEL_FEATURES
) -> DataFrame:
    """Attach `<feature>_level` (low/med/high) columns using exact
    tercile boundaries trained on the current population (A4,
    Boundaries#train/#getLevel: `<=` -> low/med, else high).
    """
    # the feature frame feeds both the boundary aggregation and the
    # join-back: a lazy local checkpoint computes it once (sf0.1 A/B:
    # a3_role_assignment +14% without it)
    features = features.localCheckpoint(eager=False)
    aggs = []
    for c in feature_cols:
        vals = F.sort_array(F.collect_list(F.col(c)))
        n = F.size(vals)
        lo = F.floor(n / 3).cast("int")
        hi = F.floor(n * 2 / 3).cast("int")
        # try_element_at: populations smaller than ~4 overflow the
        # boundary index (the reference's Java would throw); NULL
        # boundary degrades to level 'high' rather than failing.
        aggs.append(
            ((F.try_element_at(vals, lo + 1) + F.try_element_at(vals, lo + 2)) / 2.0).alias(
                f"_{c}_lm"
            )
        )
        aggs.append(
            ((F.try_element_at(vals, hi + 1) + F.try_element_at(vals, hi + 2)) / 2.0).alias(
                f"_{c}_mh"
            )
        )
    out = features.crossJoin(F.broadcast(features.agg(*aggs)))
    for c in feature_cols:
        out = out.withColumn(
            f"{c}_level",
            F.when(F.col(c) <= F.col(f"_{c}_lm"), F.lit("low"))
            .when(F.col(c) <= F.col(f"_{c}_mh"), F.lit("med"))
            .otherwise(F.lit("high")),
        )
    return out.drop(*[f"_{c}_lm" for c in feature_cols], *[f"_{c}_mh" for c in feature_cols])


def assign_roles(leveled: DataFrame, bug_compatible: bool = False) -> DataFrame:
    """Apply the 8 role rules; later rules overwrite earlier (the
    bytecode chain is independent ifs, last match wins), final
    fallback "<None>".

    ``bug_compatible=True`` reproduces the literal compiled
    behaviour — role = "<None>" assigned unconditionally at the end
    (RoleAssociation#assignRole; see SURVEY.md §2.7).
    """
    if bug_compatible:
        return leveled.withColumn("role", F.lit("<None>"))
    # Build when-cascade in reverse: evaluating the LAST rule first
    # implements last-match-wins.
    role_expr = None
    for role, conds in reversed(ROLE_RULES):
        cond = None
        for feat, lvl in conds.items():
            c = F.col(f"{feat}_level") == lvl
            cond = c if cond is None else (cond & c)
        role_expr = (
            F.when(cond, F.lit(role)) if role_expr is None else role_expr.when(cond, F.lit(role))
        )
    return leveled.withColumn("role", role_expr.otherwise(F.lit("<None>")))


def _ratio(num: int, den: int) -> float:
    return float(num) / float(den) if den > 0 else 0.0


def _boundary(vals: list[float], k: int) -> float | None:
    """Mean of the sorted values at 0-based ``k`` and ``k + 1``; None
    (the DataFrame kernel's NULL) when the population is too small."""
    return (vals[k] + vals[k + 1]) / 2.0 if k + 1 < len(vals) else None


def _level(x: float, lm: float | None, mh: float | None) -> str:
    if lm is not None and x <= lm:
        return "low"
    if mh is not None and x <= mh:
        return "med"
    return "high"


def window_roles(
    edges: Iterable[tuple[int | None, int | None, int | None, str | None]],
    bug_compatible: bool = False,
    window: object = None,
) -> list[tuple[int, int, str, str | None]]:
    """The whole role kernel over ONE window, in plain Python.

    ``edges``: the window's ``(tweet_id, parent_id, author_id,
    author_screen_name)`` rows. Returns ``(user_id, post_count, role,
    username)`` per user, ordered by user id; ``username`` is the
    least of the user's non-null screen names in the window.

    The arithmetic is the DataFrame kernel's, step for step, so the
    two agree exactly (held equal by a property test): root ids by
    ``_doubling_steps(16)`` pointer-doubling steps, where a parent the
    window does not carry is a root; nodes without an author take part
    in the walk only; double ratios; the sample stddev of the user's
    tree sizes; tercile boundaries from :func:`_boundary`; last rule
    wins, else ``<None>``.

    A ``tweet_id`` seen twice in the window raises ``ValueError``
    naming ``window`` and the id: the kernel assumes one row per
    tweet, and the DataFrame kernel's self-joins would silently
    multiply counts instead.
    """
    anc: dict[int, int] = {}
    nodes: list[tuple[int, int | None, int]] = []
    names: dict[int, str] = {}
    for tid, parent, author, name in edges:
        if author is not None and name is not None and (author not in names or name < names[author]):
            names[author] = name
        if tid is None:
            continue  # the DataFrame kernel's join-back on tweet_id drops it
        if tid in anc:
            raise ValueError(f"duplicate tweet_id {tid} in window {window}")
        anc[tid] = tid if parent is None else parent
        if author is not None:
            nodes.append((tid, parent, author))
    for _ in range(_doubling_steps(16)):
        anc = {t: anc.get(a, a) for t, a in anc.items()}

    author_of = {t: a for t, _, a in nodes}
    child_authors: dict[int, list[int]] = {}
    tree_size: dict[int, int] = {}
    for t, p, a in nodes:
        if p is not None:
            child_authors.setdefault(p, []).append(a)
        tree_size[anc[t]] = tree_size.get(anc[t], 0) + 1

    posts: dict[int, int] = {}
    trees: dict[int, set[int]] = {}
    replied: dict[int, set[int]] = {}
    repliers: dict[int, set[int]] = {}
    neighbours: dict[int, set[int]] = {}
    bidir_users: dict[int, set[int]] = {}
    bidir_posts: dict[int, set[int]] = {}
    for t, p, a in nodes:
        posts[a] = posts.get(a, 0) + 1
        trees.setdefault(a, set()).add(anc[t])
        parent_author = author_of.get(p)
        for child in child_authors.get(t, ()):
            replied.setdefault(a, set()).add(t)
            repliers.setdefault(a, set()).add(child)
            nb = neighbours.setdefault(a, set())
            nb.add(child)
            if parent_author is not None:
                nb.add(parent_author)
            if child == parent_author:
                bidir_users.setdefault(a, set()).add(child)
                bidir_posts.setdefault(a, set()).add(t)

    feats: dict[int, tuple[float, ...]] = {}
    for u, n_posts in posts.items():
        sizes = [tree_size[r] for r in trees[u]]
        n, ssum, ssq = len(sizes), sum(sizes), sum(s * s for s in sizes)
        feats[u] = (
            _ratio(len(repliers.get(u, ())), len(posts)),
            _ratio(len(replied.get(u, ())), n_posts),
            0.0,
            _ratio(len(bidir_users.get(u, ())), len(neighbours.get(u, ()))),
            _ratio(len(bidir_posts.get(u, ())), n_posts),
            _ratio(ssum, n),
            math.sqrt(float(n * ssq - ssum * ssum) / float(n * (n - 1))) if n >= 2 else 0.0,
        )

    levels: dict[int, dict[str, str]] = {u: {} for u in feats}
    k_lo, k_hi = len(feats) // 3, 2 * len(feats) // 3
    for i, c in enumerate(LEVEL_FEATURES):
        vals = sorted(f[i] for f in feats.values())
        lm, mh = _boundary(vals, k_lo), _boundary(vals, k_hi)
        for u, f in feats.items():
            levels[u][c] = _level(f[i], lm, mh)

    out = []
    for u in sorted(feats):
        role = "<None>"
        if not bug_compatible:
            for name, conds in ROLE_RULES:
                if all(levels[u][c] == want for c, want in conds.items()):
                    role = name
        out.append((u, posts[u], role, names.get(u)))
    return out
