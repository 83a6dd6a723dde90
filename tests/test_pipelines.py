"""End-to-end batch runs of the three reference pipelines on tiny
F1/F2 fixtures (FIXTURES.md shapes)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from westtopologies_spark.ops.geo import GEO_LAT, GEO_LONG, OWL_SAMEAS, RDFS_LABEL
from westtopologies_spark.ops.model import LocationModel
from westtopologies_spark.pipelines.location_topic_model import location_topic_model_batch
from westtopologies_spark.pipelines.lod_explorer import lod_explorer_batch
from westtopologies_spark.pipelines.role_analysis import (
    role_analysis_batch,
    roles_for_closed_windows,
)
from westtopologies_spark.schemas import TWEET_SCHEMA


def _tweet(seq, tid, uid, name, created, text="hello the world", reply_to=None, rt=None):
    return {
        "_seq": seq,
        "created_at": created,
        "id_str": str(tid),
        "text": text,
        "user": {"id_str": str(uid), "screen_name": name},
        "in_reply_to_status_id_str": str(reply_to) if reply_to else None,
        "in_reply_to_user_id_str": None,
        "in_reply_to_screen_name": None,
        "retweeted_status": ({"id_str": str(rt), "user": {"id_str": "9"}} if rt else None),
        "entities": {"user_mentions": []},
        "coordinates": None,
    }


@pytest.fixture(scope="module")
def tweets(spark):
    rows = [
        # window 1 (00:00-00:10): thread 1 -> 2 -> 3, plus reply to unseen 99
        _tweet(0, 1, 10, "alice a", "Mon Jan 01 00:00:01 +0000 2024"),
        _tweet(1, 2, 11, "bob", "Mon Jan 01 00:01:00 +0000 2024", reply_to=1),
        _tweet(2, 3, 10, "alice a", "Mon Jan 01 00:02:00 +0000 2024", reply_to=2),
        _tweet(3, 4, 12, "carol", "Mon Jan 01 00:03:00 +0000 2024", reply_to=99),
        # delete event (no created_at) must be dropped
        {"_seq": 4, "created_at": None, "id_str": "5", "text": None, "user": None,
         "in_reply_to_status_id_str": None, "in_reply_to_user_id_str": None,
         "in_reply_to_screen_name": None, "retweeted_status": None, "entities": None,
         "coordinates": None},
        # window 2 (00:10-00:20): retweet chain
        _tweet(5, 6, 11, "bob", "Mon Jan 01 00:11:00 +0000 2024", rt=1),
        _tweet(6, 7, 12, "carol", "Mon Jan 01 00:12:00 +0000 2024"),
        _tweet(7, 8, 10, "alice a", "Mon Jan 01 00:13:00 +0000 2024", reply_to=7),
    ]
    return spark.createDataFrame(rows, TWEET_SCHEMA)


def test_role_analysis_batch_windows(tweets):
    roles = role_analysis_batch(tweets).collect()
    assert len(roles) > 0
    windows = {r["window_start"].isoformat() for r in roles}
    assert windows == {"2024-01-01T00:00:00", "2024-01-01T00:10:00"}
    assert all(r["role"] != "" for r in roles)
    # window 1: alice(10) has 2 posts, bob 1, carol 1
    w1 = {r["user_id"]: r for r in roles if r["window_start"].minute == 0}
    assert w1[10]["post_count"] == 2


def test_role_analysis_batch_drops_unparsable_created_at(spark, tweets):
    """A tweet whose created_at does not parse has no window: it is
    dropped (NULL under a non-ANSI session) and leaves every window's
    roles as they were; an ANSI session fails at the parse."""
    bad = spark.createDataFrame(
        [_tweet(8, 20, 13, "dave", "not a date", reply_to=1)], TWEET_SCHEMA
    )
    with pytest.raises(Exception, match="CANNOT_PARSE_TIMESTAMP"):
        role_analysis_batch(tweets.unionByName(bad)).collect()
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        got = set(role_analysis_batch(tweets.unionByName(bad)).collect())
        want = set(role_analysis_batch(tweets).collect())
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert got == want
    assert all(r["user_id"] != 13 for r in got)


def test_role_kernel_rejects_duplicate_tweet_id(spark):
    """A tweet_id twice in one window fails the role pass loudly,
    naming the window and the id, instead of multiplying counts."""
    closed = spark.createDataFrame(
        [
            (
                dt.datetime(2024, 1, 1),
                [(1, None, 10, "a"), (2, 1, 11, "b"), (2, 1, 11, "b")],
            )
        ],
        "window_start timestamp, edges array<struct<tweet_id: long, parent_id: long, "
        "author_id: long, author_screen_name: string>>",
    )
    with pytest.raises(Exception, match="duplicate tweet_id 2 in window 2024-01-01"):
        roles_for_closed_windows(closed).collect()


def test_lod_explorer_batch(spark):
    geoparse = spark.createDataFrame(
        [
            Row(**{"_seq": 0, "itinno:item_id": "m1",
                   "itinno:loc_set": [Row(key="linked_data",
                                          linked_data=["http://linkedgeodata.org/t/1"])]}),
            Row(**{"_seq": 1, "itinno:item_id": "m2", "itinno:loc_set": []}),
        ]
    )
    sameas = spark.createDataFrame(
        [("http://dbpedia.org/resource/Koblenz", OWL_SAMEAS, "http://linkedgeodata.org/t/1")],
        "s string, p string, o string",
    )
    # the explored entity is the URI-valued OBJECT (place) linked from
    # the dbpedia location uri; geo/label triples sit on the place
    loc_triples = spark.createDataFrame(
        [
            ("http://dbpedia.org/resource/Koblenz", "http://dbpedia.org/ontology/type",
             "http://dbpedia.org/resource/City", None),
            ("http://dbpedia.org/resource/City", GEO_LAT, "50.36", None),
            ("http://dbpedia.org/resource/City", GEO_LONG, "7.60", None),
            ("http://dbpedia.org/resource/City", RDFS_LABEL, "Koblenz", "en"),
        ],
        "s string, p string, o string, lang string",
    )
    nb = spark.createDataFrame(
        [("http://dbpedia.org/ontology/type", 50, 5), ("total", 60, 60)],
        "property string, rel int, irrel int",
    )
    out = lod_explorer_batch(geoparse, sameas, loc_triples, nb).collect()
    assert len(out) == 1  # m2 has no loc_set entries -> dropped (E2 inner explode)
    ents = out[0]["ukob:explored_entities"]
    assert ents[0]["ukob:explored_entity_loc"] == "POINT(50.36 7.6)"
    assert ents[0]["ukob:explored_entity_label"] == "Koblenz"


def test_location_topic_model_batch(tweets):
    # dictionary=None derives the wordmap from the corpus; the run must
    # leave no cached plan behind in the session
    cache = tweets.sparkSession._jsparkSession.sharedState().cacheManager()
    cached = cache.numCachedEntries()
    out = location_topic_model_batch(
        tweets, LocationModel.deterministic(n_regions=8), dictionary=None, top_k=5
    )
    rows = out.collect()
    assert cache.numCachedEntries() == cached
    assert len(rows) > 0
    for r in rows:
        probs = [t["probability"] for t in r["ukob:topic_set"]]
        assert len(probs) <= 5
        assert probs == sorted(probs, reverse=True)  # T1 desc order
        lon, lat = r["ukob:topic_set"][0]["location"].split(",")
        float(lon), float(lat)  # P10 parseable float key


def _plan_nodes(df):
    """(node name, names of its ancestors) for every node of the
    optimized logical plan — counted, never diffed as text."""
    out = []

    def walk(node, above):
        out.append((node.nodeName(), above))
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i), above + [node.nodeName()])

    walk(df._jdf.queryExecution().optimizedPlan(), [])
    return out


@pytest.mark.parametrize("which", ["m1_predict_locations", "location_topic_model_batch"])
def test_location_scoring_is_one_arrow_pass(spark, sf_dir, tweets, which):
    """M1 scoring crosses into Python exactly once (MapInPandas or
    MapInArrow, no grouped FlatMapGroupsInPandas), and nothing joins
    the scores back to their tweets afterwards."""
    if which == "m1_predict_locations":
        from westtopologies_spark.queries import m1_predict_locations

        df = m1_predict_locations(spark, sf_dir)
    else:
        df = location_topic_model_batch(tweets, LocationModel.deterministic(n_regions=8))
    nodes = _plan_nodes(df)
    names = [n for n, _ in nodes]
    crossings = [(n, above) for n, above in nodes if n in ("MapInPandas", "MapInArrow")]
    assert len(crossings) == 1, names
    assert "FlatMapGroupsInPandas" not in names
    assert not any(a.endswith("Join") for a in crossings[0][1]), names


def test_location_topic_model_batch_keys_by_item_id(spark):
    """Two tweets whose ids share ``abs(hash(id_str))`` each get their
    own top-5, equal to scoring that tweet alone."""
    texts = {
        "73838": "the quick brown fox and the lazy dog",
        "312741": "the cat of the house is in the garden",
    }
    rows = [
        _tweet(i, tid, 10, "alice", "Mon Jan 01 00:00:01 +0000 2024", text=text)
        for i, (tid, text) in enumerate(texts.items())
    ]
    words = sorted({w for t in texts.values() for w in t.split()})
    dictionary = spark.createDataFrame(list(enumerate(words)), "id long, token string")
    model = LocationModel.deterministic(n_regions=8)

    def run(rs):
        out = location_topic_model_batch(
            spark.createDataFrame(rs, TWEET_SCHEMA), model, dictionary=dictionary
        )
        return {r["itinno:item_id"]: r["ukob:topic_set"] for r in out.collect()}

    together = run(rows)
    assert set(together) == set(texts)
    for row in rows:
        alone = run([row])
        assert len(together[row["id_str"]]) <= 5
        assert together[row["id_str"]] == alone[row["id_str"]]


def test_location_topic_model_batch_reference_fidelity(tweets):
    """VERDICT r1 item 4: the pipeline runs reference-faithful end to
    end — NB language gate (drop-on-error), exact getTerms loop,
    Snowball stemming — and still produces the F7 output shape."""
    out = location_topic_model_batch(
        tweets,
        LocationModel.deterministic(n_regions=8),
        top_k=5,
        reference_fidelity=True,
    )
    rows = out.collect()
    assert len(rows) > 0
    for r in rows:
        probs = [t["probability"] for t in r["ukob:topic_set"]]
        assert len(probs) <= 5
        assert probs == sorted(probs, reverse=True)
        lon, lat = r["ukob:topic_set"][0]["location"].split(",")
        float(lon), float(lat)
