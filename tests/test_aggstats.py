"""Semantics tests for the aggregate-statistics, versioning, and
tf-idf operators on tiny constructed frames (full-table parity is the
oracle harness's job)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from westtopologies_spark.scale import aggstats as A
from westtopologies_spark.scale import textstats as TX
from westtopologies_spark.scale import versioning as V


def test_group_percentiles_matches_numpy(spark):
    import numpy as np

    vals = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0, 3.5]
    df = spark.createDataFrame([("g", v) for v in vals], ["k", "v"])
    out = {
        r["p"]: r["pct_value"]
        for r in A.group_percentiles(df, "v", ["k"], ps=(0.5, 0.9)).collect()
    }
    assert out[0.5] == pytest.approx(
        float(np.percentile(vals, 50)), abs=1e-4
    )
    assert out[0.9] == pytest.approx(
        float(np.percentile(vals, 90)), abs=1e-4
    )


def test_group_percentiles_single_row_group(spark):
    df = spark.createDataFrame([("a", 7.0), ("b", 1.0), ("b", 2.0)], ["k", "v"])
    out = {
        (r["k"], r["p"]): r["pct_value"]
        for r in A.group_percentiles(df, "v", ["k"], ps=(0.5,)).collect()
    }
    assert out[("a", 0.5)] == 7.0
    assert out[("b", 0.5)] == 1.5


def test_histogram_bins_and_extremes(spark):
    df = spark.createDataFrame(
        [(v,) for v in [0.0, 10.0, 24.9, 25.0, 70.0]], ["v"]
    )
    rows = {r["bin"]: r for r in A.histogram(df, "v", width=25.0).collect()}
    assert rows[0]["n_rows"] == 3 and rows[0]["bin_max"] == 24.9
    assert rows[1]["n_rows"] == 1 and rows[1]["bin_min"] == 25.0
    assert rows[2]["n_rows"] == 1


def test_heavy_hitters_order_and_ties(spark):
    df = spark.createDataFrame(
        [("b b a a c a",), ("c b x",)], ["text"]
    )
    rows = A.heavy_hitters(df, k=3).collect()
    assert [(r["token"], r["n_occurrences"]) for r in rows] == [
        ("a", 3),
        ("b", 3),  # tie with a -> token asc
        ("c", 2),
    ]


@pytest.mark.parametrize("impl", ["builtin", "det"])
def test_hll_distinct_error_bound(spark, sf_dir, impl):
    from westtopologies_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    fn = A.hll_distinct if impl == "builtin" else A.hll_distinct_det
    approx = {
        r["lang"]: r["approx_distinct"]
        for r in fn(docs, ["lang"], "doc_id").collect()
    }
    from pyspark.sql import functions as F

    exact = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang")
        .agg(F.countDistinct("doc_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for lang, n in exact.items():
        assert abs(approx[lang] - n) <= max(3, 0.15 * n)


def test_snapshot_diff_ops(spark):
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "c2"), (4, "d")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in V.snapshot_diff(old, new).collect()}
    assert set(out) == {1, 3, 4}  # 2 unchanged -> dropped
    assert out[1]["op"] == "delete" and out[1]["new_len"] is None
    assert out[3]["op"] == "update" and out[3]["new_len"] == 2
    assert out[4]["op"] == "insert" and out[4]["old_len"] is None


def test_synthetic_snapshots_slots(spark, sf_dir):
    from westtopologies_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    old, new = V.synthetic_snapshots(docs)
    diff = V.snapshot_diff(old, new)
    by_op = {r["op"]: r["n"] for r in diff.groupBy("op").count().withColumnRenamed("count", "n").collect()}
    n = docs.count()
    # each residue class holds ~n/20 ids
    for op in ("insert", "delete", "update"):
        assert by_op[op] == pytest.approx(n / V.SNAP_MOD, rel=0.5)


def test_tfidf_prefers_rare_terms(spark):
    # 'rare' appears once in doc 1; 'common' appears in all docs ->
    # idf(common) = ln(4/4) = 0, so 'rare' must outrank it
    df = spark.createDataFrame(
        [(1, "common rare"), (2, "common x"), (3, "common y")],
        ["doc_id", "text"],
    )
    rows = TX.tfidf_top_terms(df, top=1).collect()
    top = {r["doc_id"]: r for r in rows}
    assert top[1]["term"] == "rare"
    expected = round(1 * math.log((3 + 1) / (1 + 1)), 6)
    assert top[1]["score"] == pytest.approx(expected, abs=1e-6)


def test_redact_masks_pii(spark):
    from westtopologies_spark.scale.trainprep import redact

    df = spark.createDataFrame(
        [
            ("mail bob.smith+x@example.co.uk now",),
            ("call +1 (555) 123-4567 today",),
            ("order 1234 of 5",),
            ("clean text",),
        ],
        ["text"],
    )
    got = [r[0] for r in df.select(redact("text")).collect()]
    assert got[0] == "mail <EMAIL> now"
    assert got[1] == "call <PHONE> today"
    assert got[2] == "order # of #"
    assert got[3] == "clean text"


def test_approx_percentiles_close_to_exact(spark, sf_dir):
    from westtopologies_spark.session import load_table

    orders = load_table(spark, sf_dir, "orders")
    exact = {
        (r["o_orderpriority"], r["p"]): r["pct_value"]
        for r in A.group_percentiles(
            orders, "o_totalprice", ["o_orderpriority"]
        ).collect()
    }
    approx = {
        (r["o_orderpriority"], r["p"]): r["approx_value"]
        for r in A.approx_group_percentiles(
            orders, "o_totalprice", ["o_orderpriority"]
        ).collect()
    }
    assert set(approx) == set(exact)
    for key, v in exact.items():
        assert approx[key] == pytest.approx(v, rel=0.05)


def test_histogram_percentiles_error_bound(spark, sf_dir):
    """The deterministic integer-histogram sketch (the catalog's
    hard-oracle ag_approx_percentiles path) is within its
    constructive bound — <= W/2 cents, attained at bucket edges — of the exact
    ceil-rank order statistic it brackets, for every (group, p)."""
    from pyspark.sql import functions as F

    from westtopologies_spark.session import load_table

    orders = load_table(spark, sf_dir, "orders")
    sketch = {
        (r["o_orderpriority"], r["p_permille"]): (
            r["approx_cents"],
            r["n_rows"],
        )
        for r in A.histogram_percentiles_cents(
            orders, "o_totalprice", ["o_orderpriority"]
        ).collect()
    }
    # exact ceil-rank order statistic in cents, per group
    vals = {}
    for r in (
        orders.where(F.col("o_totalprice").isNotNull())
        .select(
            "o_orderpriority",
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("vc"),
        )
        .collect()
    ):
        vals.setdefault(r["o_orderpriority"], []).append(r["vc"])
    for g in vals:
        vals[g].sort()
    assert sketch, "sketch output is empty"
    for (g, p), (approx_cents, n_rows) in sketch.items():
        vs = vals[g]
        assert n_rows == len(vs)
        rank = -(-p * n_rows // 1000)  # ceil(p*n/1000)
        exact = vs[rank - 1]
        # bound is <= W/2, attained when the rank order statistic
        # sits exactly on a bucket's lower edge (an exact $100
        # multiple): |midpoint - edge| == W/2 (ADVICE r7)
        assert abs(approx_cents - exact) <= A.HIST_SKETCH_WIDTH_CENTS / 2, (
            g,
            p,
            approx_cents,
            exact,
        )


def test_incremental_minhash_consistent_with_full(spark, sf_dir):
    """Incremental (delta vs corpus) pairs == the cross-slot subset of
    the full self-dedup pairs on the same documents."""
    from pyspark.sql import functions as F

    from westtopologies_spark.scale import dedup as DD
    from westtopologies_spark.scale import versioning as V
    from westtopologies_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    h = F.col("doc_id") % V.SNAP_MOD
    inc = {
        (r["doc_base"], r["doc_new"], r["jaccard"])
        for r in DD.incremental_minhash_pairs(
            DD.row_shingle_arrays(docs.filter(h != V.INSERT_SLOT)),
            DD.row_shingle_arrays(docs.filter(h == V.INSERT_SLOT)),
        ).collect()
    }
    full = DD.minhash_lsh_dedup(docs)
    cross = set()
    for r in full.collect():
        ha, hb = r["doc_a"] % V.SNAP_MOD, r["doc_b"] % V.SNAP_MOD
        if (ha == V.INSERT_SLOT) != (hb == V.INSERT_SLOT):
            new, base = (
                (r["doc_a"], r["doc_b"])
                if ha == V.INSERT_SLOT
                else (r["doc_b"], r["doc_a"])
            )
            cross.add((base, new, r["jaccard"]))
    assert inc == cross


def test_profile_shape(spark, sf_dir):
    from westtopologies_spark.session import load_table

    out = A.profile(load_table(spark, sf_dir, "orders")).collect()
    rows = {r["col_name"]: r for r in out}
    assert set(rows) == set(A.PROFILE_NUM_COLS) | set(A.PROFILE_STR_COLS)
    n = load_table(spark, sf_dir, "orders").count()
    assert rows["o_orderkey"]["n_nonnull"] == n
    assert rows["o_orderkey"]["n_distinct"] == n  # primary key
    assert rows["o_orderstatus"]["min_num"] is None
    assert rows["o_orderstatus"]["min_str"] is not None


def test_group_sample_caps_each_stratum(spark, sf_dir):
    from westtopologies_spark.scale import trainprep as TP
    from westtopologies_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = TP.group_sample(docs, k=4)
    per = {r["stratum"]: r["n"] for r in out.groupBy("stratum").count()
           .withColumnRenamed("count", "n").collect()}
    assert all(n <= 4 for n in per.values())
    # repartitioning must not change the selection (hash order, not rand)
    again = {
        (r["stratum"], r["doc_id"])
        for r in TP.group_sample(docs.repartition(7), k=4).collect()
    }
    first = {(r["stratum"], r["doc_id"]) for r in out.collect()}
    assert first == again


def test_label_centroids_mean_of_known_vectors(spark):
    from westtopologies_spark.scale.similarity import label_centroids

    df = spark.createDataFrame(
        [(1, [1.0, 3.0], 7), (2, [3.0, 5.0], 7), (3, [10.0, 0.0], 8)],
        ["vec_id", "embedding", "label"],
    )
    got = {(r["label"], r["dim"]): r["centroid"] for r in label_centroids(df).collect()}
    assert got[(7, 1)] == 2.0 and got[(7, 2)] == 4.0
    assert got[(8, 1)] == 10.0 and got[(8, 2)] == 0.0


def test_token_entropy_uniform_vs_collapsed(spark):
    from westtopologies_spark.scale.textstats import token_entropy

    df = spark.createDataFrame(
        [("u", "a b c d"), ("c", "x x x x")], ["lang", "text"]
    )
    got = {r["stratum"]: r for r in token_entropy(df).collect()}
    assert got["u"]["entropy"] == pytest.approx(math.log(4), abs=1e-6)
    assert got["c"]["entropy"] == 0.0  # single repeated token
    assert got["u"]["n_types"] == 4 and got["c"]["n_types"] == 1


def test_contamination_rates_bounds(spark):
    from westtopologies_spark.scale.trainprep import contamination_rates

    train = spark.createDataFrame(
        [(1, "a b c d e"), (2, "p q r s")], ["doc_id", "text"]
    )
    ev = spark.createDataFrame(
        [(100, "a b c d e"), (101, "z z2 z3 z4")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in contamination_rates(train, ev).collect()}
    assert got[100]["rate"] == 1.0  # verbatim copy of a train doc
    assert got[101]["rate"] == 0.0  # disjoint vocabulary
    assert got[100]["n_shingles"] == 3  # 5 tokens -> 3 trigrams


def test_pmi_prefers_exclusive_pairs(spark):
    from westtopologies_spark.scale.textstats import pmi_bigrams

    # "c b" is exclusive on its left side; "a" splits its mass between
    # "a b" and "a d", so PMI(c,b) = ln(1.5) > PMI(a,b) = ln(0.75)
    rows = [("a b",)] * 5 + [("c b",)] * 5 + [("a d",)] * 5
    df = spark.createDataFrame(rows, ["text"])
    out = pmi_bigrams(df, min_count=5, k=10).collect()
    by_pair = {(r["w1"], r["w2"]): r["pmi"] for r in out}
    assert by_pair[("c", "b")] == pytest.approx(math.log(1.5), abs=1e-6)
    assert by_pair[("a", "b")] == pytest.approx(math.log(0.75), abs=1e-6)
    assert by_pair[("c", "b")] > by_pair[("a", "b")]
    # support floor holds
    assert all(r["c_ab"] >= 5 for r in out)


def test_trimmed_mean_drops_outliers(spark):
    # 20 ones plus two wild outliers; 5% trim (k=1) drops exactly the
    # min and max -> mean of the remaining 20 ones... construct:
    vals = [1.0] * 20 + [-1000.0, 1000.0]
    df = spark.createDataFrame([("g", v) for v in vals], ["k", "v"])
    r = A.trimmed_mean(df, "v", ["k"]).collect()[0]
    assert r["n_kept"] == 20
    assert r["trimmed_mean"] == 1.0
    # plain mean would be ~0.9 -- the trim is what recovers 1.0


def test_quality_gate_monotone_in_score(spark, sf_dir):
    from westtopologies_spark.scale.trainprep import quality_gate
    from westtopologies_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    kept = quality_gate(docs)
    rows = kept.collect()
    assert 0 < len(rows) < docs.count()
    # every kept row satisfies its own threshold
    assert all(r["sample_bucket"] < r["keep_threshold"] for r in rows)


def test_repetition_signals_known_doc(spark):
    # "a a a a b": top word a (4/5), 2 distinct words, bigrams
    # [aa, aa, aa, ab] -> 4 total, 2 distinct -> dup frac 0.5
    df = spark.createDataFrame([(1, "a a a a b")], ["doc_id", "text"])
    r = TX.repetition_signals(df).collect()[0]
    assert r["n_words"] == 5
    assert r["n_distinct_words"] == 2
    assert r["top_word_share"] == 0.8
    assert r["dup_bigram_frac"] == 0.5


def test_boilerplate_covers_shared_trigram(spark):
    # docs 1 and 2 share the trigram "x y z"; doc 3 shares nothing
    df = spark.createDataFrame(
        [
            (1, "x y z a b"),
            (2, "c x y z d"),
            (3, "p q r s t"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in TX.boilerplate_coverage(df).collect()}
    # 5 words -> 3 trigram positions each
    assert all(out[d]["n_grams"] == 3 for d in (1, 2, 3))
    assert out[1]["n_boiler"] == 1 and out[2]["n_boiler"] == 1
    assert out[3]["n_boiler"] == 0
    assert out[1]["boiler_frac"] == round(1 / 3, 4)


def test_balanced_mixture_hits_exact_quotas(spark, sf_dir):
    from westtopologies_spark.scale.trainprep import (
        MIXTURE_WEIGHTS_PER_MILLE,
        balanced_mixture,
    )
    from westtopologies_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    kept = balanced_mixture(docs).collect()
    by_stratum = {}
    for r in kept:
        by_stratum.setdefault(r["stratum"], []).append(r)
    counts = {s: len(rs) for s, rs in by_stratum.items()}
    # every stratum filled its quota exactly
    for s, rs in by_stratum.items():
        assert counts[s] == rs[0]["quota"]
    # the binding stratum (smallest n/w) keeps everything it has
    n_by = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    lam = min(n * 1000 // MIXTURE_WEIGHTS_PER_MILLE[s] for s, n in n_by.items())
    for s, n in n_by.items():
        assert counts[s] == lam * MIXTURE_WEIGHTS_PER_MILLE[s] // 1000
        assert counts[s] <= n


def test_grouped_corr_matches_numpy(spark):
    import numpy as np

    xs = [1.0, 2.0, 3.0, 4.0, 5.0]
    ys = [2.1, 3.9, 6.2, 8.0, 9.8]
    df = spark.createDataFrame(
        [("g", x, y) for x, y in zip(xs, ys)], ["k", "x", "y"]
    )
    r = A.grouped_corr(df, "x", "y", ["k"]).collect()[0]
    assert r["n"] == 5
    assert r["corr"] == pytest.approx(np.corrcoef(xs, ys)[0, 1], abs=1e-4)
    assert r["covar"] == pytest.approx(np.cov(xs, ys, ddof=1)[0, 1], abs=1e-4)


def test_duplicated_spans_semantics(spark):
    from westtopologies_spark.scale.dedup import duplicated_spans

    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),   # shares trigram "a b c" with doc 2
            (2, "a b c x y z"),
            (3, "p q r p q r p q r"),  # self-repeating
            (4, "u v w m n o"),   # nothing duplicated
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in duplicated_spans(df).collect()}
    # docs 1/2: one span covering tokens 1..3 -> frac 0.5
    for d in (1, 2):
        assert out[d]["n_spans"] == 1
        assert out[d]["dup_tokens"] == 3
        assert out[d]["dup_frac"] == 0.5
    # doc 3: every trigram repeats -> one span covering all 9 tokens
    assert out[3]["n_spans"] == 1
    assert out[3]["dup_tokens"] == 9
    assert out[3]["dup_frac"] == 1.0
    # doc 4: clean
    assert out[4]["n_spans"] == 0 and out[4]["dup_frac"] == 0.0


def test_mad_exact(spark):
    df = spark.createDataFrame(
        [("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", 100.0)], ["k", "v"]
    )
    row = A.mad(df, "v", ["k"]).collect()[0]
    # median of [1,2,3,100] = 2.5; devs [1.5,0.5,0.5,97.5] -> median 1.0
    assert row["median_x1e4"] == 25000 and row["mad_x1e4"] == 10000


def test_crosstab_pivot_dense_zero_fill(spark):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (1, "a", 5.0), (2, "b", 7.0)], ["k", "t", "v"]
    )
    out = {r["k"]: r for r in A.crosstab_pivot(df, "k", "t", ("a", "b"), "v").collect()}
    assert out[1]["t_a"] == 15.0 and out[1]["t_b"] == 0.0
    assert out[2]["t_a"] == 0.0 and out[2]["t_b"] == 7.0


def test_scd2_history_runs(spark):
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (1, "a", t0, 1),
        (1, "a", t0 + dt.timedelta(minutes=1), 2),
        (1, "b", t0 + dt.timedelta(minutes=2), 3),
        (1, "a", t0 + dt.timedelta(minutes=3), 4),
        (2, "x", t0, 5),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts", "event_id"])
    out = V.scd2_history(df)
    u1 = sorted(
        [r for r in out.collect() if r["user_id"] == 1],
        key=lambda r: r["valid_from"],
    )
    assert [r["event_type"] for r in u1] == ["a", "b", "a"]
    assert [r["n_events"] for r in u1] == [2, 1, 1]
    # intervals chain: each valid_to == next valid_from; only last open
    assert u1[0]["valid_to"] == u1[1]["valid_from"]
    assert u1[1]["valid_to"] == u1[2]["valid_from"]
    assert u1[2]["valid_to"] is None and u1[2]["is_current"]
    assert not u1[0]["is_current"]


def test_point_in_time_state_hourly_grid(spark):
    """AS-OF sampling: state flips land on the right probe hours; a
    probe exactly at a run's valid_from sees THAT run; probes before
    the first event carry NULL."""
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = [
        # state 'a' from 00:30, 'b' from exactly 02:00, 'a' from 03:45
        (1, "a", t0 + dt.timedelta(minutes=30), 1),
        (1, "b", t0 + dt.timedelta(hours=2), 2),
        (1, "a", t0 + dt.timedelta(hours=3, minutes=45), 3),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts", "event_id"])
    out = {
        r["as_of"].hour: (r["state"], r["state_since_s"])
        for r in V.point_in_time_state(df).collect()
    }
    # grid: 00:00 .. 03:00 (hour-truncated min/max)
    assert out[0][0] is None  # before first run
    assert out[1] == ("a", int((t0 + dt.timedelta(minutes=30)).timestamp()))
    assert out[2] == ("b", int((t0 + dt.timedelta(hours=2)).timestamp()))  # boundary
    assert out[3][0] == "b"  # 03:45 flip is after the 03:00 probe


def test_length_bucket_batches_integer_plan(spark):
    from westtopologies_spark.scale import trainprep as TP

    rows = [
        (1, "a", " ".join(["w"] * 10)),  # bucket 0 (cap 64)
        (2, "a", " ".join(["w"] * 64)),  # bucket 0
        (3, "a", " ".join(["w"] * 65)),  # bucket 1 (cap 128)
        (4, "b", " ".join(["w"] * 300)),  # bucket 4 (cap 320)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = {(r["grp"], r["bucket"]): r for r in TP.length_bucket_batches(df).collect()}
    a0 = out[("a", 0)]
    assert a0["bucket_cap"] == 64 and a0["n_docs"] == 2
    assert a0["batch_size"] == 16384 // 64 == 256
    assert a0["n_batches"] == 1
    assert a0["pad_tokens"] == 2 * 64 - 74
    b4 = out[("b", 4)]
    assert b4["bucket_cap"] == 320 and b4["batch_size"] == 16384 // 320
    assert b4["pad_tokens"] == 320 - 300


def test_quantile_bins_equal_frequency(spark):
    df = spark.createDataFrame(
        [("g", float(i), i) for i in range(1, 9)], ["k", "v", "id"]
    )
    out = {r["bin"]: r for r in A.quantile_bins(df, "v", ["k"], "id").collect()}
    assert [out[b]["n_rows"] for b in (1, 2, 3, 4)] == [2, 2, 2, 2]
    assert out[1]["bin_lo"] == 1.0 and out[4]["bin_hi"] == 8.0


def test_weighted_quantiles_lower_rule(spark):
    df = spark.createDataFrame(
        [("g", 1.0, 5.0), ("g", 2.0, 3.0), ("g", 3.0, 2.0)], ["k", "v", "w"]
    )
    out = {
        r["p10"]: r["wq_cents"]
        for r in A.weighted_quantiles(df, "v", "w", ["k"]).collect()
    }
    # cum weights: v=1 -> 5, v=2 -> 8, v=3 -> 10 (total 10)
    assert out[5] == 100  # 5*10 >= 5*10 at v=1
    assert out[9] == 300  # first cum*10 >= 90 is v=3


def test_priority_sample_deterministic_and_complete(spark):
    from westtopologies_spark.scale import trainprep as TP

    df = spark.createDataFrame(
        [(i, 10 * (i + 1)) for i in range(20)], ["doc_id", "n_chars"]
    )
    a = sorted(map(tuple, TP.priority_sample(df, n=5).collect()))
    b = sorted(map(tuple, TP.priority_sample(df.repartition(7), n=5).collect()))
    assert a == b and len(a) == 5  # repartition-stable draw
    assert len(TP.priority_sample(df, n=100).collect()) == 20  # n > rows -> all


def test_readability_counts(spark):
    df = spark.createDataFrame(
        [(1, "The cat sat. The dog ran!"), (2, "zzz")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in TX.readability(df).collect()}
    assert out[1]["n_words"] == 6 and out[1]["n_sentences"] == 2
    # one vowel group per word in doc 1
    assert out[1]["n_syllables"] == 6
    assert out[2]["n_sentences"] == 1 and out[2]["n_syllables"] == 0


def test_latest_per_key_picks_max_ts_then_seq(spark):
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (1, t0, 1, "a"),
        (1, t0 + dt.timedelta(minutes=1), 2, "b"),
        (1, t0 + dt.timedelta(minutes=1), 3, "c"),  # ts tie -> higher seq
        (2, t0, 4, "x"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "event_type"])
    out = {r["user_id"]: r["event_type"] for r in V.latest_per_key(df).collect()}
    assert out == {1: "c", 2: "x"}


def test_psi_drift_identical_snapshots_zero(spark):
    df = spark.createDataFrame(
        [(i, "x" * (10 + i % 3)) for i in range(30)], ["doc_id", "text"]
    )
    out = V.psi_drift(df, df, width=5).collect()
    assert out and all(r["psi_term"] == 0.0 for r in out)
    assert all(r["n_old"] == r["n_new"] for r in out)


def test_psi_drift_one_sided_bin_is_null(spark):
    old = spark.createDataFrame([(1, "aaaaa")], ["doc_id", "text"])
    new = spark.createDataFrame([(1, "aaaaaaaaaaaa")], ["doc_id", "text"])
    out = {r["bin"]: r for r in V.psi_drift(old, new, width=5).collect()}
    assert out[1]["psi_term"] is None and out[2]["psi_term"] is None


def test_iqr_outliers_flags_extreme(spark):
    vals = [float(v) for v in range(1, 13)] + [1000.0]
    df = spark.createDataFrame([("g", v) for v in vals], ["k", "v"])
    row = A.iqr_outliers(df, "v", ["k"]).collect()[0]
    assert row["n_rows"] == 13 and row["n_outliers"] == 1
    # n=13: q1 = v[4] = 4.0, q3 = v[10] = 10.0, IQR = 6.0
    # lo = 4 - 9 = -5.0 -> -5*800; hi = 10 + 9 = 19.0 -> 19*800
    assert row["lo_fence_x800"] == -5 * 800
    assert row["hi_fence_x800"] == 19 * 800


def test_cms_estimate_one_sided(spark):
    df = spark.createDataFrame(
        [(i, "alpha beta " * (i + 1) + "gamma") for i in range(5)],
        ["doc_id", "text"],
    )
    out = {r["token"]: r for r in A.cms_heavy_hitter_estimates(df, k=3).collect()}
    # CMS never under-counts
    assert all(r["cms_est"] >= r["n_exact"] for r in out.values())
    assert out["alpha"]["n_exact"] == 15 and out["beta"]["n_exact"] == 15


def test_incremental_rollup_equals_full(spark):
    import datetime as dt

    rows = [
        (dt.datetime(2024, 1, i % 28 + 1), "t" + str(i % 2), float(i))
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, ["ts", "event_type", "value"])
    inc = V.incremental_rollup(df, split_ts="2024-01-15 00:00:00")
    full = df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )
    assert sorted(map(tuple, inc.collect())) == sorted(map(tuple, full.collect()))


def test_cms_sketch_mergeable(spark):
    """CMS partials from disjoint corpus halves merged by summing
    (row, bucket) cells == the sketch of the union — the property a
    per-partition / per-day incremental sketch build relies on."""
    from westtopologies_spark.scale.dedup import char_hash_tid

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 3} common") for i in range(20)],
        ["doc_id", "text"],
    )

    def occ(df):
        return df.select(
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
            ).alias("token")
        ).withColumn("tid", char_hash_tid(F.col("token")))

    left = A.cms_sketch(occ(docs.filter("doc_id < 10")))
    right = A.cms_sketch(occ(docs.filter("doc_id >= 10")))
    merged = (
        left.unionByName(right)
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    full = A.cms_sketch(occ(docs))
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_winsorized_mean_caps(spark):
    vals = [1.0] + [float(v) for v in range(10, 20)] + [1000.0]
    df = spark.createDataFrame([("g", v) for v in vals], ["k", "v"])
    row = A.winsorized_mean(df, "v", ["k"]).collect()[0]
    # capped mean sits strictly between the raw mean w/o outliers and w/
    # (caps are exact dollars*1e4 BIGINTs after the rule-16 rework)
    assert row["cap_lo_x1e4"] > 1.0 * 1e4 and row["cap_hi_x1e4"] < 1000.0 * 1e4
    assert row["winsorized_mean"] < 100.0  # the 1000 outlier is clamped
    assert row["n_rows"] == 12
