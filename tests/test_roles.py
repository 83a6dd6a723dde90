"""Hand-computed fixture for the §2.7 role kernel.

Forest:
    1(A) ── 2(B) ── 3(A)
        └── 4(C)
    5(B)            (isolated root)
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from westtopologies_spark.ops.roles import (
    assign_roles,
    role_features,
    tercile_levels,
    window_roles,
    with_root_ids,
)


@pytest.fixture(scope="module")
def forest(spark):
    rows = [
        (1, None, "A"),
        (2, 1, "B"),
        (3, 2, "A"),
        (4, 1, "C"),
        (5, None, "B"),
    ]
    return spark.createDataFrame(rows, "tweet_id long, parent_id long, author_id string")


def test_root_ids(forest):
    roots = {r["tweet_id"]: r["root_id"] for r in with_root_ids(forest).collect()}
    assert roots == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5}


def test_features_hand_computed(forest):
    feats = {r["user_id"]: r.asDict() for r in role_features(forest).collect()}
    a, b, c = feats["A"], feats["B"], feats["C"]

    assert (a["post_count"], a["replied_posts"], a["n_replying_users"]) == (2, 1, 2)
    assert (a["n_neighbours"], a["n_bidir_neighbours"], a["bidir_threads"]) == (2, 0, 0)
    assert a["in_degree_ratio"] == pytest.approx(2 / 3)
    assert a["posts_reply_ratio"] == pytest.approx(0.5)
    assert a["avg_posts_per_thread"] == pytest.approx(4.0)
    assert a["stddev_posts_per_thread"] == 0.0  # single tree

    assert (b["post_count"], b["replied_posts"], b["n_replying_users"]) == (2, 1, 1)
    # B's contribution 2 replied to A, and A replied back -> bidirectional
    assert (b["n_neighbours"], b["n_bidir_neighbours"], b["bidir_threads"]) == (1, 1, 1)
    assert b["bidir_neighbour_ratio"] == pytest.approx(1.0)
    assert b["bidir_thread_ratio"] == pytest.approx(0.5)
    assert b["avg_posts_per_thread"] == pytest.approx(2.5)  # trees of size 4 and 1
    assert b["stddev_posts_per_thread"] == pytest.approx((4.5) ** 0.5)

    assert (c["post_count"], c["replied_posts"], c["n_neighbours"]) == (1, 0, 0)
    assert c["in_degree_ratio"] == 0.0
    assert c["bidir_neighbour_ratio"] == 0.0  # 0/0 -> 0


def test_bug_compatible_mode(forest):
    leveled = tercile_levels(role_features(forest))
    roles = assign_roles(leveled, bug_compatible=True).select("role").distinct().collect()
    assert [r["role"] for r in roles] == ["<None>"]


def test_event_forest_rejects_an_event_id_gap(spark, sf_dir, tmp_path):
    """The a3 entries root every event at ``eid - eid % 5``, which holds
    only for event_ids 0..n-1: with event 7 missing, an event whose
    parent chain passes through 7 would get root 5 where the oracle's
    walk drops it. The query must raise instead."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from westtopologies_spark.queries import queries

    events = pq.read_table(f"{sf_dir}/events.parquet")
    pq.write_table(events.filter(pc.not_equal(events["event_id"], 7)), tmp_path / "events.parquet")
    with pytest.raises(Exception, match="event_id contiguous from 0"):
        queries()["a3_role_features"](spark, str(tmp_path)).collect()


def test_window_roles_hand_computed():
    """The per-window kernel on the fixture forest: A and B post twice,
    C once; usernames are the least non-null screen name."""
    edges = [
        (1, None, 1, "alice"),
        (2, 1, 2, "bob"),
        (3, 2, 1, "al"),
        (4, 1, 3, None),
        (5, None, 2, "bob"),
    ]
    got = {u: (n, name) for u, n, _, name in window_roles(edges)}
    assert got == {1: (2, "al"), 2: (2, "bob"), 3: (1, None)}
    assert {r for _, _, r, _ in window_roles(edges, bug_compatible=True)} == {"<None>"}


def test_window_roles_rejects_duplicate_tweet_id():
    """One row per tweet is a kernel assumption: a repeated id fails
    loudly, naming the window and the id."""
    edges = [(1, None, 1, "a"), (2, 1, 2, "b"), (2, 1, 2, "b")]
    with pytest.raises(ValueError, match="duplicate tweet_id 2 in window W7"):
        window_roles(edges, window="W7")


@st.composite
def window_forests(draw):
    """One window's ``(tweet_id, parent_id, author_id)`` edges: roots,
    replies to earlier tweets, retweets of the first tweet, replies to
    parents the window does not carry, optional chains deeper than the
    16 levels the root walk resolves, and a few author-less rows."""
    n_users = draw(st.integers(1, 5))
    chain = draw(st.sampled_from((0, 0, 0, 17, 20)))
    n = draw(st.integers(max(chain, 1), chain + 16))
    edges = []
    for i in range(n):
        kinds = ("root", "unseen") if i == 0 else ("root", "reply", "retweet", "unseen")
        kind = "reply" if 0 < i < chain else draw(st.sampled_from(kinds))
        if kind == "root":
            parent = None
        elif kind == "reply":
            parent = 100 + (i - 1 if i < chain else draw(st.integers(0, i - 1)))
        elif kind == "retweet":
            parent = 100
        else:
            parent = 900 + draw(st.integers(0, 3))
        author = draw(st.integers(-1, n_users - 1))
        edges.append((100 + i, parent, None if author < 0 else author))
    return edges


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(edges=window_forests(), bug=st.booleans())
# a chain deeper than 16: the 4-step walk stops short of the root
@example(edges=[(100 + i, 99 + i if i else None, i % 2) for i in range(21)], bug=False)
# 1-3 users: tercile boundaries index past the population (NULL)
@example(edges=[(1, None, 7), (2, 1, 7)], bug=False)
@example(edges=[(1, None, 7), (2, 1, 8), (3, 2, 7)], bug=False)
@example(edges=[(1, None, 7), (2, 1, 8), (3, 1, 9), (4, 3, 7)], bug=True)
# user 3's only posts reply to parents the window does not carry
@example(edges=[(1, None, 1), (2, 1, 2), (3, 900, 3), (4, 901, 3), (5, 2, 1)], bug=False)
def test_window_roles_match_dataframe_kernel(spark, edges, bug):
    """window_roles == role_features -> tercile_levels -> assign_roles
    on one window, in both rule modes."""
    df = spark.createDataFrame(edges, "tweet_id long, parent_id long, author_id long")
    want = {
        tuple(r)
        for r in assign_roles(tercile_levels(role_features(df)), bug_compatible=bug)
        .select("user_id", "post_count", "role")
        .collect()
    }
    got = {
        (u, n, role)
        for u, n, role, _ in window_roles([(*e, None) for e in edges], bug_compatible=bug)
    }
    assert got == want
