"""Semantics tests for the scale-extension operators (dedup,
similarity, text stats, multimodal) on tiny constructed frames —
the oracle harness covers the full-table parity separately."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from westtopologies_spark.scale import constants as C
from westtopologies_spark.scale import dedup, multimodal, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
        (2, "completely different words about spark engines here"),
        (3, "The  Quick Brown fox jumps over the lazy dog"),  # case/ws variant
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (5, "tiny"),  # < 3 tokens -> no shingles
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_groups(docs):
    out = {r["keep_id"]: r["n_copies"] for r in dedup.exact_duplicate_groups(docs).collect()}
    # doc 0, 3 (normalized) and 4 collapse into one group kept as id 0
    assert out[0] == 3
    assert out[1] == 1 and out[2] == 1 and out[5] == 1


def test_minhash_lsh_finds_near_dup(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_dedup(docs, threshold=0.3).collect()
    }
    assert (0, 4) in pairs and pairs[(0, 4)] == 1.0  # exact dup: full overlap
    assert (0, 1) in pairs and 0.3 <= pairs[(0, 1)] < 1.0  # near-dup caught
    assert all(2 not in p for p in pairs)  # unrelated doc never pairs


def test_minhash_lsh_dedup_matches_oracle_unthresholded(spark, sf_dir, duck):
    """Un-thresholded, the pipeline returns every LSH candidate with
    its exact Jaccard (what dd_threshold_sweep counts).  A token
    encoding other than the oracle's char hash moves documents
    between band buckets, so it changes this set, not just the ids."""
    from westtopologies_spark.queries_scale import _minhash_sql
    from westtopologies_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.minhash_lsh_dedup(docs, threshold=0.0).collect()
    }
    expect = {
        (a, b, j)
        for a, b, j in duck.sql(
            f"SELECT doc_a, doc_b, jaccard FROM ({_minhash_sql(0.0)})"
        ).fetchall()
    }
    assert got == expect
    assert len(expect) > 0


def test_ngram_jaccard_exact_values(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    # 9-token docs -> 7 shingles; docs 0/1 differ in last token -> 6 shared
    assert pairs[(0, 4)] == 1.0
    assert pairs[(0, 1)] == round(6 / 8, 4)


def test_overlap_coefficient_contained_doc(spark):
    """A short doc pasted inside a much longer one scores overlap 1.0
    while its Jaccard stays low — the containment case the overlap
    coefficient exists for."""
    short = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i}" for i in range(40))
    rows = [(0, short), (1, filler + " " + short)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    over = {
        (r["doc_a"], r["doc_b"]): r["overlap"]
        for r in dedup.overlap_coefficient_pairs(docs, threshold=0.0).collect()
    }
    jac = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    assert over[(0, 1)] == 1.0  # every shingle of doc 0 appears in doc 1
    assert jac[(0, 1)] < 0.2  # symmetric Jaccard misses the containment


def test_overlap_equals_jaccard_on_equal_sets(docs):
    """For same-size shingle sets with intersection i: overlap =
    i/sz, jaccard = i/(2*sz-i) — check the exact-dup and near-dup
    pairs line up with that arithmetic."""
    over = {
        (r["doc_a"], r["doc_b"]): r["overlap"]
        for r in dedup.overlap_coefficient_pairs(docs, threshold=0.0).collect()
    }
    assert over[(0, 4)] == 1.0
    assert over[(0, 1)] == round(6 / 7, 4)  # 6 shared of 7 shingles each


@pytest.mark.parametrize("threshold", [0.3, 0.6, 0.8])
def test_prefix_jaccard_matches_bruteforce(docs, threshold):
    # the prefix filter must be lossless: identical pair set + values
    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=threshold).collect()
    }
    pref = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.prefix_jaccard_pairs(docs, threshold=threshold).collect()
    }
    assert pref == full and full  # non-empty at these thresholds


def test_simhash_identical_docs_zero_hamming(docs):
    toks = dedup.tokens_with_ids(docs)
    near = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_near_pairs(
            dedup.simhash_values(toks), max_hamming=C.SIMHASH_BITS
        ).collect()
    }
    assert near[(0, 4)] == 0  # identical text -> identical simhash


@pytest.fixture(scope="module")
def vectors(spark):
    # unit-ish vectors: 0 and 1 nearly parallel, 2 orthogonal, 3 = -0
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )


def test_cosine_topk(vectors):
    out = similarity.cosine_topk(vectors, vectors.filter(F.col("vec_id") == 0), k=2)
    got = [(r["rank"], r["neighbor_id"]) for r in out.orderBy("rank").collect()]
    assert got == [(1, 1), (2, 2)]  # nearest first, antipode last excluded at k=2


def test_embedding_neardup_pairs(vectors):
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in dedup.embedding_neardup_pairs(vectors, threshold=0.9).collect()
    }
    assert list(pairs) == [(0, 1)] and pairs[(0, 1)] > 0.99


def test_embedding_neardup_pruned_is_lossless(spark, sf_dir):
    """Triangle-inequality cluster-pair pruning must change NOTHING:
    the pruned-exact catalog path == the all-pairs kernel, pair for
    pair, cosine for cosine (the prune is provably conservative)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in dedup.embedding_neardup_pairs(emb).collect()
    }
    pruned = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in dedup.embedding_neardup_pairs_pruned(emb).collect()
    }
    assert pruned == exact and len(exact) > 0


def test_ann_lsh_same_bucket_for_parallel_vectors(vectors):
    buckets = {
        r["vec_id"]: r["bucket"]
        for r in similarity.hyperplane_buckets(vectors, dim=4).collect()
    }
    assert buckets[0] == buckets[1]  # nearly-parallel vectors share all signs
    assert buckets[0] == (~buckets[3] & 0xFF)  # antipode flips every bit


def test_ann_ivf_clusters_and_reranks(spark):
    # two tight clusters around e1 and e3; queries come from both
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.98, 0.05, 0.0, 0.0]),
        (2, [0.97, 0.0, 0.05, 0.0]),
        (7, [0.0, 0.0, 1.0, 0.0]),
        (8, [0.0, 0.05, 0.98, 0.0]),
        (9, [0.05, 0.0, 0.97, 0.0]),
    ]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    out = similarity.ann_ivf_topk(
        vecs, F.col("vec_id").isin(0, 7), k=2, n_probe=1, dim=4
    )
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"] for r in out.collect()
    }
    # with 1 probed cell each query stays in its own cluster and the
    # exact rerank orders by true cosine
    assert got[(0, 1)] in (1, 2) and got[(0, 2)] in (1, 2)
    assert got[(7, 1)] in (8, 9) and got[(7, 2)] in (8, 9)


def test_ivf_centroids_deterministic(spark):
    rows = [(i, [float(i % 3), 1.0, 0.5, 0.0]) for i in range(30)]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    a = sorted(map(tuple, similarity.ivf_centroids(vecs, dim=4).collect()))
    b = sorted(map(tuple, similarity.ivf_centroids(vecs, dim=4).collect()))
    assert a == b and len(a) >= 1


def test_cov_gemm_partials_rejects_null_vector(spark):
    """A null embedding row must fail loudly, not fold into X^T·X:
    Arrow's ``ListArray.flatten()`` skips the child values behind a
    null slot, so the dense-size guard sees 2 rows' worth of values
    for 3 rows and raises."""
    rows = [(0, [1.0, 2.0]), (1, None), (2, [3.0, 4.0])]
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).coalesce(1)
    with pytest.raises(Exception, match="expected dense"):
        similarity.cov_gemm_partials(vecs, dim=2).collect()


def test_quality_score_monotone(spark):
    rows = [
        (0, "the cat is on the mat and it is a good cat"),
        (1, "zzzz 123 !!! ### 456 zz 789 xx 000 yy 111"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textstats.quality_scores(df).collect()}
    assert out[0]["stopword_ratio"] > out[1]["stopword_ratio"]
    assert out[0]["quality_score"] > out[1]["quality_score"]
    assert 0.0 <= out[1]["quality_score"] <= 1.0


def test_token_counts(spark):
    df = spark.createDataFrame([(0, "alpha beta12 gamma-delta x")], ["doc_id", "text"])
    r = textstats.token_counts(df).collect()[0]
    assert r["ws_tokens"] == 4
    assert r["word_tokens"] == 5  # alpha beta gamma delta x
    # ceil: alpha 2 + beta 1 + gamma 2 + delta 2 + x 1
    assert r["subword_est"] == 8


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(0, "a b c"), (1, "c b a"), (2, "a b c")], ["doc_id", "text"]
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in textstats.fingerprints(df).collect()}
    assert fp[0] == fp[2] != fp[1]


def test_byte_histogram_counts(spark):
    df = spark.createDataFrame([(7, "AAAB")], ["doc_id", "text"])
    b = multimodal.as_binary_docs(df.withColumn("source", F.lit("s")))
    rows = {r["bin"]: r["n"] for r in multimodal.byte_histogram(b).collect()}
    assert rows == {ord("A") // 16: 4}  # A=65, B=66 share bin 4


def test_binary_meta(spark):
    df = spark.createDataFrame([(3, "hello", "srcX")], ["doc_id", "text", "source"])
    r = multimodal.as_binary_docs(df).collect()[0]
    assert bytes(r["content"]) == b"hello"
    assert r["meta"]["n_bytes"] == 5
    assert r["meta"]["mime"] == "text/plain;src=srcX"


def test_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG")


def test_frame_sample_stub(spark):
    df = spark.createDataFrame([(1, "x" * 25000, "s")], ["doc_id", "text", "source"])
    out = multimodal.frame_sample_stub(multimodal.as_binary_docs(df), every_n=10).collect()
    assert [r["offset"] for r in out] == [0, 10240, 20480]
    assert out[-1]["n_bytes"] == 25000 - 20480


def test_distributed_rank_matches_global_window(spark):
    """Two-phase range rank == row_number over a global window."""
    import random

    from pyspark.sql import Window

    rng = random.Random(7)
    words = list({f"w{rng.randrange(10**6):06d}" for _ in range(5000)})
    df = spark.createDataFrame([(w,) for w in words], ["token"])
    got = {
        r["token"]: r["rank"]
        for r in dedup.distributed_rank(df, "token", partitions=16).collect()
    }
    want = {
        r["token"]: r["rank"]
        for r in df.withColumn(
            "rank", F.row_number().over(Window.orderBy("token"))
        ).collect()
    }
    assert got == want


def test_salted_distinct_count_exact(spark):
    from westtopologies_spark.scale.skew import salted_distinct_count

    rows = [("hot", f"v{i % 137}") for i in range(2000)] + [
        ("cold", f"v{i}") for i in range(7)
    ]
    df = spark.createDataFrame(rows, ["k", "v"])
    got = {
        r["k"]: r["n_distinct"]
        for r in salted_distinct_count(df, ["k"], "v", n_salts=8).collect()
    }
    assert got == {"hot": 137, "cold": 7}


def test_salted_join_matches_plain_join(spark):
    from westtopologies_spark.scale.skew import salted_join, top_hot_keys

    fact = spark.createDataFrame(
        [(i, "hot" if i % 10 else f"k{i}") for i in range(500)], ["row_id", "k"]
    )
    dim = spark.createDataFrame(
        [("hot", 1), ("k10", 2), ("k20", 3)], ["k", "payload"]
    )
    got = sorted(
        map(tuple, salted_join(fact, dim, "k", n_salts=4).select("row_id", "payload").collect())
    )
    want = sorted(map(tuple, fact.join(dim, "k").select("row_id", "payload").collect()))
    assert got == want and len(got) > 400
    hot = top_hot_keys(fact, "k", k=1).collect()[0]
    assert hot["k"] == "hot"


def test_bloom_no_false_negatives(spark, sf_dir):
    from westtopologies_spark.scale import bloomjoin as BJ
    from westtopologies_spark.session import load_table

    cust = load_table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 5000.0)
    orders = load_table(spark, sf_dir, "orders")
    pos = BJ.bloom_build(cust, "c_custkey")
    # every build key must be flagged when probed with itself
    summary = BJ.bloom_probe_summary(cust, "c_custkey", orders, "o_custkey").collect()[0]
    assert summary.n_flagged >= summary.n_members
    assert summary.n_false_pos == summary.n_flagged - summary.n_members
    # position set is bounded by K * n_build and by the filter size
    n_pos = pos.count()
    assert n_pos <= min(len(BJ.BLOOM_A) * cust.count(), BJ.BLOOM_M)


def test_unigram_lm_scores_are_log_probs(spark, sf_dir):
    from westtopologies_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    scored = textstats.unigram_lm_scores(docs).collect()
    assert scored
    for r in scored:
        assert r.n_tokens > 0
        assert r.mean_logp < 0.0  # log of probabilities < 1


def test_cooccurrence_window_pairs(spark):
    df = spark.createDataFrame([(1, "a b c"), (2, "c a")], ["doc_id", "text"])
    out = {
        (r["wa"], r["wb"]): (r["n_cooc"], r["n_docs"])
        for r in textstats.cooccurrence(df, window=2, min_count=1).collect()
    }
    # doc1 pairs: (a,b),(a,c),(b,c); doc2: (a,c) -> (a,c) twice across 2 docs
    assert out[("a", "c")] == (2, 2)
    assert out[("a", "b")] == (1, 1) and out[("b", "c")] == (1, 1)


def test_cooccurrence_respects_window(spark):
    df = spark.createDataFrame([(1, "a x y z b")], ["doc_id", "text"])
    out = textstats.cooccurrence(df, window=2, min_count=1).collect()
    assert ("a", "b") not in {(r["wa"], r["wb"]) for r in out}  # distance 4 > 2


def test_inverted_index_postings(spark):
    df = spark.createDataFrame(
        [(3, "dog cat"), (1, "dog dog"), (2, "dog")], ["doc_id", "text"]
    )
    out = {r["term"]: r for r in textstats.inverted_index(df, cap=2).collect()}
    assert out["dog"]["df"] == 3 and out["dog"]["cf"] == 4
    assert out["dog"]["postings"] == "1,2"  # sorted, capped at 2
    assert out["cat"]["postings"] == "3"


def test_kmeans_two_clusters(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.98, 0.05, 0.0, 0.0]),
        (2, [0.97, 0.0, 0.05, 0.0]),
        (7, [0.0, 0.0, 1.0, 0.0]),
        (8, [0.0, 0.05, 0.98, 0.0]),
        (9, [0.05, 0.0, 0.97, 0.0]),
    ]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    # seeds: vec_ids 0 and 7 (divisible by 7) -> one per true cluster
    out = {
        r["vec_id"]: r
        for r in similarity.kmeans_assignments(
            vecs, k=2, iters=2, dim=4, stride=7
        ).collect()
    }
    assert {out[i]["cluster_id"] for i in (0, 1, 2)} == {0}
    assert {out[i]["cluster_id"] for i in (7, 8, 9)} == {7}
    # every member sits close to its own centroid
    assert all(r["cosine"] > 0.95 for r in out.values())


def test_quantize_stats_error_bounded(vectors):
    out = {r["vec_id"]: r for r in similarity.quantize_stats(vectors, dim=4).collect()}
    for r in out.values():
        # int8 quantization error per element is at most (scale/2)^2
        sc = (r["vmax"] - r["vmin"]) / 255.0
        assert 0.0 <= r["mse_q"] <= (sc / 2) ** 2 + 1e-12


def test_quantize_stats_constant_vector_zero_error(spark):
    df = spark.createDataFrame([(1, [0.5, 0.5, 0.5, 0.5])], ["vec_id", "embedding"])
    df = df.withColumn("embedding", F.col("embedding").cast("array<float>"))
    r = similarity.quantize_stats(df, dim=4).collect()[0]
    assert r["mse_q"] == 0.0 and r["vmin"] == r["vmax"]


def test_row_band_buckets_matches_batch_chain(spark, sf_dir):
    """row_band_buckets (zero-aggregation scan-stage signatures) is
    value-identical to the batch tokens->shingles->minhash->bands
    chain in char vocab mode."""
    from westtopologies_spark.scale import dedup as D
    from westtopologies_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    batch = D.band_buckets(
        D.minhash_signatures(
            D.doc_shingles(
                D.doc_token_ids(D.tokens_with_ids(docs, vocab_mode="char"))
            )
        )
    )
    got = {tuple(r) for r in D.row_band_buckets(docs).collect()}
    expect = {tuple(r) for r in batch.collect()}
    assert got == expect
    assert len(got) > 0


def test_incremental_array_path_matches_legacy_exploded(spark, sf_dir):
    """incremental_minhash_pairs' array-kernel rework (scan-stage
    shingles + candidate-restricted intersect) returns exactly the
    legacy exploded-index formulation's pairs."""
    from pyspark.sql import functions as F

    from westtopologies_spark.scale import dedup as D
    from westtopologies_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 3 != 0)
    ins = docs.filter(F.col("doc_id") % 3 == 0)
    got = {
        (r.doc_base, r.doc_new, r.jaccard)
        for r in D.incremental_minhash_pairs(
            D.row_shingle_arrays(base), D.row_shingle_arrays(ins), threshold=0.2
        ).collect()
    }

    # legacy formulation: exploded shingle indexes, shingle-keyed
    # intersection counts
    sh_b = D.doc_shingles(
        D.doc_token_ids(D.tokens_with_ids(base, vocab_mode="char"))
    )
    sh_n = D.doc_shingles(
        D.doc_token_ids(D.tokens_with_ids(ins, vocab_mode="char"))
    )
    cand = (
        D.band_buckets(D.minhash_signatures(sh_b))
        .select(F.col("doc_id").alias("doc_base"), "band", "bucket")
        .join(
            D.band_buckets(D.minhash_signatures(sh_n)).select(
                F.col("doc_id").alias("doc_new"), "band", "bucket"
            ),
            ["band", "bucket"],
        )
        .select("doc_base", "doc_new")
        .distinct()
    )
    inter = (
        sh_b.select(F.col("doc_id").alias("doc_base"), "shingle")
        .join(
            sh_n.select(F.col("doc_id").alias("doc_new"), "shingle"),
            "shingle",
        )
        .groupBy("doc_base", "doc_new")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sz_b = sh_b.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz_b"))
    sz_n = sh_n.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz_n"))
    expect = {
        (r.doc_base, r.doc_new, r.jaccard)
        for r in (
            cand.join(inter, ["doc_base", "doc_new"])
            .join(sz_b.withColumnRenamed("doc_id", "doc_base"), "doc_base")
            .join(sz_n.withColumnRenamed("doc_id", "doc_new"), "doc_new")
            .select(
                "doc_base",
                "doc_new",
                F.round(
                    F.col("n_inter")
                    / (F.col("sz_b") + F.col("sz_n") - F.col("n_inter")),
                    4,
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= 0.2)
        ).collect()
    }
    assert got == expect
    assert len(got) > 0


def test_cdc_chunks_survive_prefix_insertion(spark):
    """The content-defined property: prepending bytes to a payload
    re-chunks only the region around the edit — every chunk of the
    original from its second chunk onward reappears verbatim in the
    prefixed payload (boundaries depend only on the trailing window,
    so they re-synchronize after the first post-edit boundary).
    A fixed-size chunker would shift every block."""
    from westtopologies_spark.scale import multimodal as MM

    base = (
        "the quick brown fox jumps over the lazy dog while seven "
        "wizards brew quartz potions under a midnight sky and the "
        "river bends past granite cliffs toward a silver delta "
        "where herons wade through reeds and salt marsh grass "
        "holding perfectly still until the tide turns back again"
    ) * 3
    docs = spark.createDataFrame(
        [(1, base), (2, "XYZZY PREFIX INSERTED " + base)],
        ["doc_id", "text"],
    )
    ch = MM.cdc_chunks(docs).collect()
    a = sorted(
        (r.chunk_idx, r.chunk_fp) for r in ch if r.doc_id == 1
    )
    b_fps = {r.chunk_fp for r in ch if r.doc_id == 2}
    assert len(a) >= 3  # the property is vacuous on 1 chunk
    tail_fps = [fp for idx, fp in a if idx >= 2]
    assert set(tail_fps) <= b_fps
    # and total bytes always reassemble exactly
    assert sum(r.chunk_len for r in ch if r.doc_id == 1) == len(base)


def test_guarded_cents_rejects_out_of_range_cid(spark):
    """ADVICE r8: the packed argmax key stores cid in its low 42 bits;
    _guarded_cents must fail LOUDLY on the broadcast side for any cid
    outside [0, 2^42) instead of silently corrupting min(_k)."""
    from py4j.protocol import Py4JJavaError

    from westtopologies_spark.scale.similarity import (
        _SIM_KEY_SHIFT,
        _guarded_cents,
    )

    ok = spark.createDataFrame(
        [(0, [1.0], 1.0), (5, [0.5], 0.5)], "cid long, cent_v array<double>, cent_n double"
    )
    assert sorted(r.cid for r in _guarded_cents(ok).collect()) == [0, 5]
    for bad_cid in (-1, _SIM_KEY_SHIFT):
        bad = spark.createDataFrame(
            [(bad_cid, [1.0], 1.0)], "cid long, cent_v array<double>, cent_n double"
        )
        with pytest.raises((Py4JJavaError, Exception)):
            _guarded_cents(bad).collect()
