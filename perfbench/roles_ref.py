"""Reference role analysis in plain Python: the ``role_stream`` output
check.

Given the generated tweets, it computes per 10-minute window the
(user, role) pairs the role-analysis topology must write: windows by
event time, deletes dropped, the retweet source or reply target as the
parent, one dummy ancestor per parent the window does not carry, root
ids by four pointer-doubling steps, the per-user features, exact
per-window tercile boundaries and the 8-rule cascade (last match wins,
else ``<None>``). Every step uses the same integer and double
arithmetic as the Spark kernel, so results compare exactly.

A run of the Spark role kernel costs many seconds on a small host; this
costs milliseconds, which keeps a checked run short. The self-tests
hold it equal to ``pipelines.role_analysis.role_analysis_batch`` on
generated streams.
"""

from __future__ import annotations

import math

FEATURES = (
    "in_degree_ratio",
    "posts_reply_ratio",
    "thread_initiation_ratio",
    "bidir_neighbour_ratio",
    "bidir_thread_ratio",
    "avg_posts_per_thread",
    "stddev_posts_per_thread",
)

# (role, {feature: level}); a later rule that matches overrides an
# earlier one
RULES = (
    ("Elitist", {"in_degree_ratio": "low", "bidir_thread_ratio": "high",
                 "bidir_neighbour_ratio": "low"}),
    ("Grunt", {"bidir_thread_ratio": "med", "bidir_neighbour_ratio": "med",
               "avg_posts_per_thread": "low", "stddev_posts_per_thread": "low"}),
    ("Joining Conversationalist", {"thread_initiation_ratio": "low",
                                   "avg_posts_per_thread": "high",
                                   "stddev_posts_per_thread": "high"}),
    ("Popular Initiator", {"in_degree_ratio": "high", "avg_posts_per_thread": "high"}),
    ("Popular Participant", {"in_degree_ratio": "high", "thread_initiation_ratio": "low",
                             "avg_posts_per_thread": "med", "stddev_posts_per_thread": "med"}),
    ("Supporter", {"in_degree_ratio": "med", "bidir_thread_ratio": "med",
                   "bidir_neighbour_ratio": "med"}),
    ("Taciturn", {"bidir_thread_ratio": "low", "bidir_neighbour_ratio": "low",
                  "avg_posts_per_thread": "low", "stddev_posts_per_thread": "low"}),
    ("Ignored", {"posts_reply_ratio": "low"}),
)

DOUBLING_STEPS = 4  # ceil(log2(16)): ancestors up to 16 levels up


def edges_by_window(
    tweets: list[tuple[float, float, dict]], window_s: float
) -> dict[float, list[tuple[int, int | None, int]]]:
    """``(tweet_id, parent_id, author_id)`` per window start (event
    seconds), from ``(due_s, event_s, tweet)`` triples."""
    out: dict[float, list[tuple[int, int | None, int]]] = {}
    for _, ev, t in tweets:
        if "created_at" not in t:
            continue  # a delete notice
        parent = (t.get("retweeted_status") or {}).get("id_str") or t.get(
            "in_reply_to_status_id_str"
        )
        edge = (int(t["id_str"]), int(parent) if parent else None, int(t["user"]["id_str"]))
        # created_at carries whole seconds
        out.setdefault(math.floor(ev) // window_s * window_s, []).append(edge)
    return out


def _ratio(num: int, den: int) -> float:
    return num / den if den > 0 else 0.0


def _features(edges: list[tuple[int, int | None, int]]) -> dict[int, dict[str, float]]:
    ids = {t for t, _, _ in edges}
    # parents the window does not carry become dummy roots
    anc = {t: (p if p is not None else t) for t, p, _ in edges}
    for _, p, _ in edges:
        if p is not None and p not in ids:
            anc[p] = p
    for _ in range(DOUBLING_STEPS):
        anc = {t: anc.get(a, a) for t, a in anc.items()}
    author = {t: a for t, _, a in edges}
    children: dict[int, list[int]] = {}
    for t, p, a in edges:
        if p is not None:
            children.setdefault(p, []).append(a)

    posts: dict[int, int] = {}
    tree_size: dict[int, int] = {}
    user_trees: dict[int, set[int]] = {}
    replied: dict[int, set[int]] = {}
    repliers: dict[int, set[int]] = {}
    neighbours: dict[int, set[int]] = {}
    bidir_users: dict[int, set[int]] = {}
    bidir_posts: dict[int, set[int]] = {}
    for t, p, a in edges:
        posts[a] = posts.get(a, 0) + 1
        tree_size[anc[t]] = tree_size.get(anc[t], 0) + 1
        user_trees.setdefault(a, set()).add(anc[t])
        parent_author = author.get(p) if p is not None else None
        for child_author in children.get(t, ()):
            replied.setdefault(a, set()).add(t)
            repliers.setdefault(a, set()).add(child_author)
            nb = neighbours.setdefault(a, set())
            nb.add(child_author)
            if parent_author is not None:
                nb.add(parent_author)
            if child_author == parent_author:
                bidir_users.setdefault(a, set()).add(child_author)
                bidir_posts.setdefault(a, set()).add(t)

    n_users = len(posts)
    out = {}
    for u, n_posts in posts.items():
        sizes = [tree_size[r] for r in user_trees[u]]
        n, ssum, ssq = len(sizes), sum(sizes), sum(s * s for s in sizes)
        out[u] = {
            "in_degree_ratio": _ratio(len(repliers.get(u, ())), n_users),
            "posts_reply_ratio": _ratio(len(replied.get(u, ())), n_posts),
            "thread_initiation_ratio": 0.0,
            "bidir_neighbour_ratio": _ratio(
                len(bidir_users.get(u, ())), len(neighbours.get(u, ()))
            ),
            "bidir_thread_ratio": _ratio(len(bidir_posts.get(u, ())), n_posts),
            "avg_posts_per_thread": _ratio(ssum, n),
            "stddev_posts_per_thread": (
                math.sqrt(float(n * ssq - ssum * ssum) / float(n * (n - 1))) if n >= 2 else 0.0
            ),
        }
    return out


def _boundary(vals: list[float], k: int) -> float | None:
    """Mean of the sorted values at 0-based ``k`` and ``k + 1``; None
    when the population is too small to have both."""
    if k + 1 >= len(vals):
        return None
    return (vals[k] + vals[k + 1]) / 2.0


def _level(x: float, lm: float | None, mh: float | None) -> str:
    if lm is not None and x <= lm:
        return "low"
    if mh is not None and x <= mh:
        return "med"
    return "high"


def window_roles(edges: list[tuple[int, int | None, int]]) -> set[tuple[int, str]]:
    """The ``(user_id, role)`` pairs of one window."""
    feats = _features(edges)
    n = len(feats)
    levels: dict[int, dict[str, str]] = {u: {} for u in feats}
    for c in FEATURES:
        vals = sorted(f[c] for f in feats.values())
        lm, mh = _boundary(vals, n // 3), _boundary(vals, 2 * n // 3)
        for u, f in feats.items():
            levels[u][c] = _level(f[c], lm, mh)
    out = set()
    for u, lv in levels.items():
        role = "<None>"
        for name, conds in RULES:
            if all(lv[c] == want for c, want in conds.items()):
                role = name
        out.add((u, role))
    return out


def roles_by_window(
    tweets: list[tuple[float, float, dict]], window_s: float = 600.0
) -> dict[float, set[tuple[int, str]]]:
    return {w: window_roles(e) for w, e in edges_by_window(tweets, window_s).items()}
