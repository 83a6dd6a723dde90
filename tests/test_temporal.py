"""Semantics tests for the temporal and training-data-prep operators
on tiny constructed frames (the oracle harness covers full-table
parity separately), plus plan-shape guards for the join strategies."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from westtopologies_spark.scale import temporal as T
from westtopologies_spark.scale import trainprep as TP

T0 = datetime(2024, 1, 1, 12, 0, 0)


def _ev(spark, rows):
    return spark.createDataFrame(
        [(i, u, T0 + timedelta(seconds=s), t, float(v)) for i, u, s, t, v in rows],
        ["event_id", "user_id", "ts", "event_type", "value"],
    )


@pytest.fixture(scope="module")
def events(spark):
    # user 1: three events, gap of 2h between #2 and #3 -> two sessions
    # user 2: single event
    return _ev(
        spark,
        [
            (1, 1, 0, "click", 1.0),
            (2, 1, 600, "purchase", 2.0),
            (3, 1, 600 + 7200, "click", 3.0),
            (4, 2, 50, "error", 4.0),
        ],
    )


def test_sessionize_gap_split(events):
    out = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["sum_value"])
        for r in T.sessionize(events, gap_s=1800).collect()
    }
    assert out[(1, 1)] == (2, 3.0)  # events 1+2 in one session
    assert out[(1, 2)] == (1, 3.0)  # event 3 opens a new session
    assert out[(2, 1)] == (1, 4.0)


def test_sessionize_native_matches_islands(events):
    """Built-in session_window and the islands formulation agree on
    session boundaries, counts, and sums (session_end differs by
    construction: native end = last event + gap)."""
    islands = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
        for r in T.sessionize(events, gap_s=1800).collect()
    }
    native = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
        for r in T.sessionize_native(events, gap_s=1800).collect()
    }
    assert native == islands


def test_sessionize_native_boundary_inclusive(spark):
    """An event at EXACTLY last+gap extends the session (empirically
    verified Spark semantics the oracle replays with a strict '>')."""
    ev = _ev(spark, [(1, 1, 0, "a", 1.0), (2, 1, 1800, "a", 1.0)])
    rows = T.sessionize_native(ev, gap_s=1800).collect()
    assert len(rows) == 1 and rows[0]["n_events"] == 2
    # one second past the gap -> two sessions
    ev2 = _ev(spark, [(1, 1, 0, "a", 1.0), (2, 1, 1801, "a", 1.0)])
    assert T.sessionize_native(ev2, gap_s=1800).count() == 2


def test_asof_join_picks_latest_at_or_before(spark):
    left = _ev(spark, [(10, 1, 100, "click", 0.0), (11, 1, 5, "click", 0.0)]).select(
        "event_id", "user_id", "ts"
    )
    right = _ev(
        spark,
        [
            (20, 1, 10, "purchase", 1.0),
            (21, 1, 100, "purchase", 2.0),  # simultaneous with click 10
            (22, 2, 0, "purchase", 9.0),
        ],
    ).select("event_id", "user_id", "ts", "value")
    out = {r["event_id"]: r for r in T.asof_join(left, right).collect()}
    # <= semantics: the simultaneous purchase wins for click 10
    assert out[10]["asof_event_id"] == 21 and out[10]["asof_value"] == 2.0
    # click 11 predates every purchase -> nulls survive the left join
    assert out[11]["asof_event_id"] is None and out[11]["asof_value"] is None


def test_interval_join_matches_naive(spark, sf_dir):
    from westtopologies_spark.session import load_table

    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase")
    right = ev.filter(F.col("event_type") == "error")
    fast = T.interval_join(left, right)
    l = left.select(
        "user_id",
        F.col("event_id").alias("l_event_id"),
        F.unix_timestamp("ts").alias("l_sec"),
    )
    r = right.select(
        F.col("user_id").alias("r_user"),
        F.col("event_id").alias("r_event_id"),
        F.unix_timestamp("ts").alias("r_sec"),
    )
    naive = l.join(
        r,
        (F.col("user_id") == F.col("r_user"))
        & (F.col("r_sec") > F.col("l_sec"))
        & (F.col("r_sec") <= F.col("l_sec") + T.RANGE_BUCKET_S),
    )
    assert sorted(
        (r["l_event_id"], r["r_event_id"]) for r in fast.collect()
    ) == sorted((r["l_event_id"], r["r_event_id"]) for r in naive.collect())


def test_interval_join_plan_is_equi_join(spark, sf_dir):
    from westtopologies_spark.session import load_table

    ev = load_table(spark, sf_dir, "events")
    plan = T.interval_join(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "error"),
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_moving_stats_frame(events):
    out = {r["event_id"]: r for r in T.moving_stats(events, n=2).collect()}
    assert out[1]["moving_avg"] == 1.0 and out[1]["delta_prev"] is None
    assert out[2]["moving_avg"] == 1.5 and out[2]["delta_prev"] == 1.0
    assert out[2]["gap_s"] == 600
    assert out[4]["moving_avg"] == 4.0


def test_chunks_reconstruct_text(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    chunks = TP.chunk_documents(docs)
    # dropping the overlap prefix of every non-first chunk and
    # concatenating in chunk order must rebuild the document
    overlap = TP.CHUNK_SIZE - TP.CHUNK_STRIDE
    rebuilt = (
        chunks.withColumn(
            "part",
            F.when(F.col("chunk_id") == 0, F.col("chunk_text")).otherwise(
                F.substring(F.col("chunk_text"), overlap + 1, TP.CHUNK_SIZE)
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "", F.array_sort(F.collect_list(F.struct("chunk_id", "part"))).part
            ).alias("rebuilt")
        )
    )
    bad = (
        rebuilt.join(docs, "doc_id")
        .filter(F.col("rebuilt") != F.col("text"))
        .count()
    )
    assert bad == 0


def test_packing_conserves_tokens(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    packed = TP.pack_sequences(docs)
    total_packed = packed.agg(F.sum("sum_tokens")).collect()[0][0]
    total_docs = docs.select(
        F.sum(F.size(F.split("text", " ")))
    ).collect()[0][0]
    assert total_packed == total_docs
    # bins are dense per group: ids 0..max with no holes
    per_grp = (
        packed.groupBy("grp")
        .agg(F.countDistinct("bin_id").alias("n"), F.max("bin_id").alias("mx"))
        .collect()
    )
    for r in per_grp:
        assert r["n"] == r["mx"] + 1


def test_stratified_sample_deterministic_and_rebalanced(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = sorted(r["doc_id"] for r in TP.stratified_sample(docs).collect())
    b = sorted(
        r["doc_id"]
        for r in TP.stratified_sample(docs.repartition(7)).collect()
    )
    assert a == b  # stable under repartitioning (hash, not rand())
    kept = TP.stratified_sample(docs).groupBy("lang").count().collect()
    orig = dict(docs.groupBy("lang").count().collect())
    for r in kept:
        rate = TP.SAMPLE_RATE_PER_MILLE.get(r["lang"], TP.SAMPLE_DEFAULT_PER_MILLE)
        # realized fraction within +-0.25 absolute of the target rate
        assert abs(r["count"] / orig[r["lang"]] - rate / 1000) < 0.25


def test_funnel_requires_step_order(spark):
    # user 1: view -> click -> purchase (full funnel)
    # user 2: click before its view, purchase after -> click must NOT
    #         count (no prior view), so funnel stalls at step 1... but
    #         a later click after the view resumes it
    # user 3: purchase only -> excluded (no view)
    ev = _ev(
        spark,
        [
            (1, 1, 0, "view", 1.0),
            (2, 1, 10, "click", 1.0),
            (3, 1, 20, "purchase", 5.0),
            (4, 2, 0, "click", 1.0),
            (5, 2, 10, "view", 1.0),
            (6, 2, 20, "purchase", 9.0),
            (7, 3, 0, "purchase", 2.0),
        ],
    )
    out = {r["user_id"]: r for r in T.funnel(ev).collect()}
    assert set(out) == {1, 2}
    assert out[1]["steps_completed"] == 3
    assert out[1]["total_delay_s"] == 20
    # user 2's only click precedes its view -> no qualified click, so
    # the purchase cannot qualify either
    assert out[2]["steps_completed"] == 1
    assert out[2]["t_click"] is None and out[2]["t_purchase"] is None


def test_funnel_click_resumes_after_view(spark):
    ev = _ev(
        spark,
        [
            (1, 1, 0, "click", 1.0),
            (2, 1, 10, "view", 1.0),
            (3, 1, 20, "click", 1.0),
            (4, 1, 30, "purchase", 1.0),
        ],
    )
    r = T.funnel(ev).collect()[0]
    assert r["steps_completed"] == 3
    # the qualified click is the one AFTER the view
    assert r["t_click"] == T0 + timedelta(seconds=20)


def test_cohort_retention_small(spark):
    import datetime as dt

    from westtopologies_spark.scale.temporal import cohort_retention

    base = dt.datetime(2024, 1, 1)
    wk = dt.timedelta(days=7)
    rows = [
        # user 1: weeks 0, 1; user 2: week 0 only; user 3: weeks 1, 2
        (1, base), (1, base + wk),
        (2, base + dt.timedelta(hours=5)),
        (3, base + wk), (3, base + 2 * wk),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = {
        (r["cohort_week"] - min(x["cohort_week"] for x in c), r["week_offset"]): r
        for c in [cohort_retention(df).collect()]
        for r in c
    }
    # cohort 0 (users 1,2): offset 0 -> 2 active, offset 1 -> 1 active
    assert out[(0, 0)]["n_active"] == 2 and out[(0, 0)]["cohort_size"] == 2
    assert out[(0, 1)]["n_active"] == 1 and out[(0, 1)]["retention"] == 0.5
    # cohort 1 (user 3): retained both weeks
    assert out[(1, 0)]["retention"] == 1.0
    assert out[(1, 1)]["retention"] == 1.0


def test_token_budget_mixture_quota_rule(spark):
    from westtopologies_spark.scale import trainprep as TP

    rows = [
        # lang a: 3 docs x 100 tokens; lang b: 30 docs x 10 tokens
        *[(i, "a", " ".join(["w"] * 100)) for i in range(3)],
        *[(100 + i, "b", " ".join(["w"] * 10)) for i in range(30)],
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = TP.token_budget_mixture(
        df, weights={"a": 500, "b": 500}, default_weight=500
    ).collect()
    by = {}
    for r in out:
        by.setdefault(r["stratum"], []).append(r)
    # both strata have 300 tokens -> lam = 600, quota = 300 each:
    # every doc starts inside its quota -> all kept
    assert {len(by["a"]), len(by["b"])} == {3, 30}
    assert all(r["quota_tokens"] == 300 for r in out)
    # skewed weights: a gets 250 of lam, b 750 -> lam = min(300*1000//250,
    # 300*1000//750) = 400 -> quota_a 100, quota_b 300
    out2 = TP.token_budget_mixture(
        df, weights={"a": 250, "b": 750}, default_weight=500
    ).collect()
    qa = [r for r in out2 if r["stratum"] == "a"]
    # 100-token docs: only the first (cum-n < 100 -> cum 100) survives
    assert len(qa) == 1 and qa[0]["quota_tokens"] == 100
    # kept set deterministic under repartitioning
    out3 = TP.token_budget_mixture(
        df.repartition(7), weights={"a": 250, "b": 750}, default_weight=500
    ).collect()
    assert sorted(r["doc_id"] for r in out2) == sorted(r["doc_id"] for r in out3)


def test_prefix_recall_perfect_when_tail_constant(spark):
    """If every vector's dims 17..64 are identical, prefix-16 ranking
    == full ranking -> recall 1.0 for every query."""
    import westtopologies_spark.queries_ext as QE
    from westtopologies_spark.scale import constants as C

    real_t = QE._t
    try:
        rows = [
            (i, [float((i * 7 + d * 3) % 11) for d in range(16)] + [1.0] * 48)
            for i in range(12)
        ]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
            "embedding", F.col("embedding").cast("array<float>")
        )
        QE._t = lambda s, sf, name: df
        out = QE.emb_prefix_recall(spark, "unused").collect()
    finally:
        QE._t = real_t
    assert len(out) == C.ANN_N_QUERIES
    # tail is constant, not zero: full-dim cosine ordering can still
    # differ from prefix ordering, so assert structure + bounds
    assert all(0 <= r["n_overlap"] <= r["k"] for r in out)
    assert all(r["recall_x1e4"] == r["n_overlap"] * 10000 // r["k"] for r in out)
