"""Approximate-nearest-neighbor search over embedding columns.

Two strategies over ``array<float>`` vectors:

- brute-force cosine top-k: broadcast the (small) query set against
  the corpus — the exact baseline. One shuffle (the per-query top-k
  aggregation); the corpus scan is embarrassingly parallel.
- sign-LSH bucketed: 8 deterministic random hyperplanes -> 8-bit
  bucket signature; candidates = corpus rows in the query's bucket;
  exact cosine rerank inside the bucket. At 100 TB the bucket join
  replaces the full scan with a keyed equi-join that prunes ~255/256
  of the corpus per query (multi-probe = widen the bucket set).

All arithmetic is double-precision with deterministic left-fold
summation; hyperplane components are exact-representable doubles
generated from an integer LCG (:func:`..constants.lsh_plane`), so
the DuckDB oracle reproduces results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import constants as C
from ..session import release_local_checkpoint


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def _normed(emb: DataFrame, vec_col: str, id_col: str, prefix: str) -> DataFrame:
    v = F.col(vec_col).cast("array<double>")
    return emb.select(
        F.col(id_col).alias(f"{prefix}id"),
        v.alias(f"{prefix}v"),
        _norm(v).alias(f"{prefix}n"),
    )


def recall_overlap(
    exact_topk: DataFrame, approx_topk: DataFrame, k: int
) -> DataFrame:
    """Per-query recall@k of an approximate top-k result against the
    exact ground truth: (query_id, k, n_overlap, recall_x1e4) — one
    k-row-per-query left join + count, recall as an exact scaled
    BIGINT.  Shared by the prefix-truncation audit
    (``emb_prefix_recall``) and the LSH audit (``ann_recall_audit``);
    both sides must carry (query_id, neighbor_id)."""
    approx = approx_topk.select(
        F.col("query_id").alias("a_qid"), F.col("neighbor_id").alias("a_nid")
    )
    j = exact_topk.select("query_id", "neighbor_id").join(
        approx,
        (F.col("query_id") == F.col("a_qid"))
        & (F.col("neighbor_id") == F.col("a_nid")),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.lit(k).cast("long").alias("k"),
        F.count("a_nid").alias("n_overlap"),
        F.expr(f"count(a_nid) * 10000 div {int(k)}")
        .cast("long")
        .alias("recall_x1e4"),
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame | Column,
    k: int = C.ANN_TOP_K,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine per query vector (self-matches excluded).

    ``queries`` is either a DataFrame or a boolean Column predicate
    selecting query rows out of the corpus (preferred: norms are
    computed once, the query side is a filter of the same scan).

    The query side is broadcast — at any corpus scale this is one
    parallel scan plus a per-query top-k; ties broken by neighbor id
    on the similarity rounded to 6 decimals (stable across engines).
    """
    c = _normed(corpus, vec_col, id_col, "c_")
    if isinstance(queries, Column):
        q = corpus.filter(queries)
    else:
        q = queries
    q = _normed(q, vec_col, id_col, "q_")
    sim = F.round(_dot(F.col("q_v"), F.col("c_v")) / (F.col("q_n") * F.col("c_n")), 6)
    scored = (
        c.join(F.broadcast(q), F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            sim.alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def hyperplane_buckets(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = C.EMBEDDING_DIM,
) -> DataFrame:
    """(vec_id, bucket): sign-LSH signature. Bit p of the bucket is
    1 iff the dot product with deterministic hyperplane p is >= 0
    (rounded at 1e-9 to keep the sign stable across engines)."""
    v = F.col(vec_col).cast("array<double>")
    bucket = None
    for p in range(C.LSH_N_PLANES):
        plane = F.array(*[F.lit(x) for x in C.lsh_plane(p, dim)])
        bit = F.when(F.round(_dot(v, plane), 9) >= 0, F.lit(2**p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return emb.select(F.col(id_col).alias("vec_id"), bucket.alias("bucket"))


_SIM_KEY_SHIFT = 1 << 42  # cid (a vec_id) must stay below 2^42


def _sim_argmax_key() -> Column:
    """Packed argmax key (r8, guide §2.3/§2.4): the 6dp-rounded
    cosine and the centroid id folded into ONE long,

        key = (1e6 - round(sim*1e6)) * 2^42 + cid,

    so ``min(key)`` IS "largest similarity, ties -> smallest cid" —
    the identical comparison semantics the oracle states, in a single
    codegen HashAggregate ``min(long)`` with map-side partial
    aggregation instead of max + equality-join-back (which computed
    the scored frame twice and shuffled it whole for the join; the
    struct-min alternative plans as SortAggregate, measured 2-5x
    slower).  Exactness: sim is already rounded at 1e-6, so
    ``sim*1e6`` is integral up to float error far below 0.5 and the
    round is exact; ``(1e6 - (key div 2^42)) / 1e6`` reconstructs the
    same double ``F.round(sim, 6)`` produced (both are the integer /
    1e6 double division).  Range: (1e6 - simx) <= 2e6, so key <=
    2e6 * 2^42 ~ 8.8e18 < 2^63; cid range is ENFORCED at runtime on
    the broadcast centroid side (:func:`_guarded_cents`, ADVICE r8).
    Caveat (documented, not guarded): a zero-norm vector yields
    sim = NaN -> CAST(long) = 0, i.e. it decodes as sim 0 instead of
    propagating NaN; the corpus embeddings are non-degenerate by
    construction (norms strictly positive at every SF) and the
    max+join-back formulation this replaced would DROP such a row
    entirely (NaN never equi-joins back), so neither shape defines a
    useful answer for degenerate input."""
    sim = F.round(
        _dot(F.col("c_v"), F.col("cent_v")) / (F.col("c_n") * F.col("cent_n")), 6
    )
    return (
        (F.lit(1_000_000) - F.round(sim * 1_000_000).cast("long"))
        * F.lit(_SIM_KEY_SHIFT)
        + F.col("cid")
    ).alias("_k")


def _guarded_cents(cents: DataFrame) -> DataFrame:
    """Runtime guard for the packed-key contract (ADVICE r8): cid is
    packed into the low 42 bits of the argmax key, so a negative or
    >= 2^42 centroid id would silently corrupt the min() ordering and
    the ``% 2^42`` decode.  The check rides the TINY broadcast side
    (k centroid rows, never the scored cross product), so its runtime
    cost is negligible; violation fails the job loudly instead of
    returning wrong nearest-centroid assignments."""
    cid = F.col("cid")
    return cents.withColumn(
        "cid",
        F.when(
            (cid >= 0) & (cid < _SIM_KEY_SHIFT), cid
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("centroid id out of packed-key range [0, 2^42): "),
                    cid.cast("string"),
                )
            )
        ),
    )


def _nearest_centroid(vectors: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cid): each vector's nearest centroid by cosine
    (rounded to 6 decimals; ties -> smallest cid). The centroid table
    is broadcast — the assignment is one parallel scan, the argmax is
    ONE per-vector min(long) aggregation over the packed
    (similarity, cid) key (see :func:`_sim_argmax_key`) with
    map-side combine — semantics identical to the oracle's
    max + join-back formulation."""
    scored = vectors.crossJoin(F.broadcast(_guarded_cents(cents))).select(
        "c_id", _sim_argmax_key()
    )
    return (
        scored.groupBy("c_id")
        .agg(F.min("_k").alias("_k"))
        .select("c_id", (F.col("_k") % _SIM_KEY_SHIFT).alias("cid"))
    )


def ivf_centroids(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = C.EMBEDDING_DIM,
    n_lists: int = C.IVF_N_LISTS,
    stride: int = C.IVF_SEED_STRIDE,
) -> DataFrame:
    """(cid, cent_v, cent_n): IVF coarse-quantizer cells.

    Deterministic training (no RNG, oracle-replicable): seeds are the
    ``n_lists`` smallest vec_ids divisible by ``stride`` (a stride
    sample of the corpus; cid = the seed's vec_id, so no global
    renumbering), refined with ONE Lloyd step — assign every vector
    to its nearest seed, average each cell, round components to 9
    decimals (absorbs engine summation-order ulps). Cells that end
    up empty after assignment drop out, exactly as in the oracle.

    At scale: the seed pick is a top-k (no sort of the corpus), the
    Lloyd assignment is a broadcast-join scan, and the per-cell mean
    is one map-side-combinable aggregation — nothing quadratic.
    """
    v = _normed(emb, vec_col, id_col, "c_")
    seeds = (
        v.filter(F.col("c_id") % stride == 0)
        .orderBy("c_id")
        .limit(n_lists)
        .select(
            F.col("c_id").alias("cid"),
            F.col("c_v").alias("cent_v"),
            F.col("c_n").alias("cent_n"),
        )
    )
    assigned = _nearest_centroid(v, seeds)
    members = v.join(assigned, "c_id")
    mean_v = F.array(
        *[
            F.round(F.avg(F.element_at(F.col("c_v"), i + 1)), 9)
            for i in range(dim)
        ]
    )
    return (
        members.groupBy("cid")
        .agg(mean_v.alias("cent_v"))
        .withColumn("cent_n", _norm(F.col("cent_v")))
    )


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame | Column,
    k: int = C.ANN_TOP_K,
    n_probe: int = C.IVF_N_PROBE,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = C.EMBEDDING_DIM,
) -> DataFrame:
    """IVF ANN: corpus partitioned into coarse-quantizer cells
    (:func:`ivf_centroids`); each query searches only its ``n_probe``
    nearest cells, with an exact cosine rerank inside them. Neighbors
    outside the probed cells are missed — the standard IVF recall
    trade-off, replicated exactly by the oracle.

    100 TB shape: the centroid table is tiny and broadcast twice
    (corpus assignment, query probe pick); the only corpus-sized
    shuffle is the per-query top-k. The cell assignment would be
    computed once and persisted as a column in a real deployment —
    here it stays in-plan so the query is self-contained.
    """
    cents = ivf_centroids(corpus, vec_col, id_col, dim)
    c = _normed(corpus, vec_col, id_col, "c_")
    cell_of = _nearest_centroid(c, cents)
    c = c.join(cell_of, "c_id")

    q_src = corpus.filter(queries) if isinstance(queries, Column) else queries
    q = _normed(q_src, vec_col, id_col, "q_")
    qsim = F.round(
        _dot(F.col("q_v"), F.col("cent_v")) / (F.col("q_n") * F.col("cent_n")), 6
    )
    qw = Window.partitionBy("q_id").orderBy(F.desc("_qsim"), F.asc("cid"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select("q_id", "q_v", "q_n", "cid", qsim.alias("_qsim"))
        .withColumn("_pr", F.row_number().over(qw))
        .filter(F.col("_pr") <= n_probe)
        .select("q_id", "q_v", "q_n", "cid")
    )

    sim = F.round(_dot(F.col("q_v"), F.col("c_v")) / (F.col("q_n") * F.col("c_n")), 6)
    scored = (
        c.join(F.broadcast(probes), "cid")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            sim.alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame | Column,
    k: int = C.ANN_TOP_K,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = C.EMBEDDING_DIM,
) -> DataFrame:
    """LSH-bucketed ANN: candidates share the query's hyperplane
    bucket; exact cosine rerank within the bucket. Queries landing in
    sparse buckets return < k rows — the documented recall trade-off
    of single-probe LSH (the oracle replicates the same bucketing).

    As with :func:`cosine_topk`, pass ``queries`` as a Column
    predicate when the query set is a slice of the corpus — the
    bucket signature (8 x 64-term dot products) is then planned once
    and the query side is a cheap filter of it.
    """
    c_all = _normed(corpus, vec_col, id_col, "c_").join(
        hyperplane_buckets(corpus, vec_col, id_col, dim).withColumnsRenamed(
            {"vec_id": "c_id"}
        ),
        "c_id",
    )
    if isinstance(queries, Column):
        q_src = corpus.filter(queries)
    else:
        q_src = queries
    q = _normed(q_src, vec_col, id_col, "q_").join(
        hyperplane_buckets(q_src, vec_col, id_col, dim).withColumnsRenamed(
            {"vec_id": "q_id"}
        ),
        "q_id",
    )
    c = c_all
    sim = F.round(_dot(F.col("q_v"), F.col("c_v")) / (F.col("q_n") * F.col("c_n")), 6)
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            sim.alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def vector_norms(emb: DataFrame) -> DataFrame:
    """(vec_id, l2_norm): per-vector L2 norm as a pure array fold —
    zero shuffle, whole-stage codegen over the packed array column.
    The fold (Spark ``aggregate`` with 0.0 seed == DuckDB
    ``list_reduce`` with a prepended seed) is left-to-right on both
    engines, so the double sums are bit-identical pre-round."""
    v = F.col("embedding").cast("array<double>")
    return emb.select("vec_id", F.round(_norm(v), 6).alias("l2_norm"))


def label_centroids(emb: DataFrame) -> DataFrame:
    """Per-label centroid, long form (label, dim, centroid): the
    class-prototype computation behind centroid classifiers and
    IVF-style coarse quantizers.  posexplode fans each vector into
    (dim, value) rows — a bounded x`dim` inflation that partial
    aggregation collapses map-side to one partial sum per (label,
    dim) per task, so the shuffle is tiny regardless of corpus
    size (this is how you average a billion vectors without ever
    materializing a per-group array)."""
    return (
        emb.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "dim0", "v"
            ),
        )
        .select("label", (F.col("dim0") + 1).alias("dim"), "v")
        .groupBy("label", "dim")
        .agg(F.round(F.avg("v"), 6).alias("centroid"))
    )


def kmeans_assignments(
    emb: DataFrame,
    k: int = C.KMEANS_K,
    iters: int = C.KMEANS_ITERS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = C.EMBEDDING_DIM,
    stride: int = C.KMEANS_SEED_STRIDE,
) -> DataFrame:
    """Spherical k-means: ``iters`` unrolled Lloyd iterations (assign
    by cosine, re-center by component mean), then the final
    per-vector assignment (vec_id, cluster_id, cosine).

    Fully deterministic (no RNG — seeds are a stride sample of the
    corpus, ties break to the smallest centroid id on the 6-decimal
    rounded similarity), so the DuckDB oracle replays the identical
    iteration trace.  Scale shape per iteration: the centroid table
    (k rows) is broadcast, assignment is one parallel scan, the
    re-center is a map-side-combinable aggregation — the classic
    mini-batch-free distributed k-means; the normed corpus is a lazy
    local checkpoint, computed by the first round and reused by every
    later one (sf0.1 A/B without it: emb_kmeans +10%,
    dd_embedding_neardup +24%).  No driver-side loop state beyond plan construction
    (cf. ops.graph.pagerank's unrolled rounds).
    """
    v = _normed(emb, vec_col, id_col, "c_").localCheckpoint(eager=False)
    cents = (
        v.filter(F.col("c_id") % stride == 0)
        .orderBy("c_id")
        .limit(k)
        .select(
            F.col("c_id").alias("cid"),
            F.col("c_v").alias("cent_v"),
            F.col("c_n").alias("cent_n"),
        )
    )
    mean_v = F.array(
        *[
            F.round(F.avg(F.element_at(F.col("c_v"), i + 1)), 9)
            for i in range(dim)
        ]
    )
    for _ in range(iters):
        assigned = _nearest_centroid(v, cents)
        refit = (
            v.join(assigned, "c_id")
            .groupBy("cid")
            .agg(mean_v.alias("cent_v"))
            .withColumn("cent_n", _norm(F.col("cent_v")))
            # materialize the k-row centroid table each round: it is
            # referenced several times downstream (assignment scored +
            # best + next iteration), and without truncation the
            # re-computation of the unrolled lineage grows ~2^iters
            .localCheckpoint()
        )
        # superseded round's centroid blocks: free eagerly (VERDICT
        # r6 #3); no-op for the round-0 plan, which is not a checkpoint
        release_local_checkpoint(cents)
        cents = refit
    # final assignment: same packed-key argmax as _nearest_centroid
    # (one HashAggregate min(long) instead of max + join-back); the
    # reported cosine is reconstructed bit-identically from the key
    # (integer / 1e6 double division == F.round(sim, 6))
    scored = v.crossJoin(F.broadcast(_guarded_cents(cents))).select(
        "c_id", _sim_argmax_key()
    )
    return (
        scored.groupBy("c_id")
        .agg(F.min("_k").alias("_k"))
        .select(
            F.col("c_id").alias("vec_id"),
            (F.col("_k") % _SIM_KEY_SHIFT).alias("cluster_id"),
            F.expr(
                f"CAST(1000000 - (_k div {_SIM_KEY_SHIFT}) AS DOUBLE) / 1000000"
            ).alias("cosine"),
        )
    )


def quantize_stats(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = C.EMBEDDING_DIM,
) -> DataFrame:
    """Scalar int8 quantization audit: per vector, the min/max range,
    and the reconstruction MSE of the 8-bit code (code = round((x -
    min)/scale), scale = range/255) — the 4x embedding-storage
    compression every large vector corpus applies, with the error it
    costs.  All elementwise expressions + one explicit left fold
    (array order), so the oracle reproduces the arithmetic
    bit-for-bit before rounding; degenerate constant vectors get
    scale 0 and MSE 0 rather than a divide-by-zero.

    Shape note (r6 perf fix, arithmetic unchanged): ``mn``/``mx``/``sc``
    are projected in a prior ``select`` so the per-element lambda
    references plain columns.  Capturing the ``array_min``/``array_max``
    expressions directly inside ``F.transform`` re-evaluates them for
    every element (64x per row, with ``sc`` 2x and ``mn`` 3x per
    element) — the same lambda-recompute trap as the r1 PMI fix; the
    A/B measured 4–10x."""
    v = F.col(vec_col).cast("array<double>")
    staged = emb.select(
        F.col(id_col),
        v.alias("_v"),
        F.array_min(v).alias("_mn"),
        F.array_max(v).alias("_mx"),
        ((F.array_max(v) - F.array_min(v)) / F.lit(255.0)).alias("_sc"),
    )
    mn, sc = F.col("_mn"), F.col("_sc")
    err2 = F.transform(
        F.col("_v"),
        lambda x: F.when(
            sc > 0,
            F.pow(x - (mn + F.round((x - mn) / sc) * sc), F.lit(2.0)),
        ).otherwise(F.lit(0.0)),
    )
    mse = (
        F.aggregate(err2, F.lit(0.0), lambda acc, e: acc + e) / F.lit(float(dim))
    )
    return staged.select(
        F.col(id_col),
        F.round(F.col("_mn"), 6).alias("vmin"),
        F.round(F.col("_mx"), 6).alias("vmax"),
        F.round(mse, 9).alias("mse_q"),
    )


def _pq_sqdist() -> Column:
    """Squared euclidean distance between the subspace row's ``sv``
    and the codeword's ``cv``, rounded 6dp (the per-round rounding
    that lets the DuckDB oracle replay the identical trace)."""
    return F.round(
        F.aggregate(
            F.zip_with(F.col("sv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, e: acc + e,
        ),
        6,
    )


def _pq_fit(
    emb: DataFrame,
    m: int = C.PQ_M,
    sub_dim: int = C.PQ_SUB_DIM,
    k: int = C.PQ_K,
    iters: int = C.PQ_ITERS,
    stride: int = C.PQ_SEED_STRIDE,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train the PQ codebooks (shared kernel of :func:`pq_codes` and
    :func:`pq_adc_topk`).

    Returns ``(sub, cents, assign)``: the checkpointed x``m`` subspace
    explode ``(vec_id, m, sv)``, the final ``m*k``-row codebook
    ``(m, cid, cv)``, and the final assignment
    ``(vec_id, m, cid, bd)`` with the 6dp-rounded squared distance.
    """
    v = F.col(vec_col).cast("array<double>")
    sub = (
        emb.select(
            F.col(id_col).alias("vec_id"),
            F.posexplode(
                F.array(*[F.slice(v, i * sub_dim + 1, sub_dim) for i in range(m)])
            ).alias("m", "sv"),
        )
    ).localCheckpoint(eager=False)
    seeds = (
        emb.select(F.col(id_col).alias("vec_id"))
        .filter(F.col("vec_id") % stride == 0)
        .orderBy("vec_id")
        .limit(k)
        .select(
            "vec_id",
            (F.row_number().over(Window.orderBy("vec_id")) - 1)
            .cast("int")
            .alias("cid"),
        )
    )
    cents = sub.join(seeds, "vec_id").select("m", "cid", F.col("sv").alias("cv"))

    _sqdist = _pq_sqdist

    mean_cv = F.array(
        *[F.round(F.avg(F.element_at(F.col("sv"), j + 1)), 9) for j in range(sub_dim)]
    )

    # r8 optimization (guide §2.3-2.4): the per-(vec_id, m) argmin
    # used to be min + equality-join-back — the n*m*k scored frame
    # computed twice and shuffled whole for the join.  Packing the
    # 6dp-rounded distance and the codeword id into ONE long,
    #     key = round(d * 1e6) * 64 + cid        (cid < k = 16 < 64),
    # makes the argmin a single codegen HashAggregate min(long) with
    # map-side partial aggregation: the long orders by (d, cid), so
    # min(key) IS "smallest distance, ties -> smallest cid" — the
    # identical semantics the oracle states.  Exactness: d is already
    # rounded at 1e-6, so d*1e6 is integral up to float error far
    # below 0.5 (d is a bounded sum of 16 squared component deltas),
    # and (key div 64)/1e6 reconstructs the unique double nearest the
    # same 6-decimal value — i.e. bit-identical to d.  (A struct-min
    # variant was tried first and REGRESSED: min over a struct plans
    # as SortAggregate, off the codegen hash path.)
    def _argmin_key() -> Column:
        return (
            F.round(_sqdist() * 1_000_000).cast("long") * 64 + F.col("cid")
        ).alias("key")

    for _ in range(iters):
        scored = sub.join(F.broadcast(cents), "m").select(
            "vec_id", "m", _argmin_key()
        )
        assign = (
            scored.groupBy("vec_id", "m")
            .agg(F.min("key").alias("_k"))
            .select(
                "vec_id", "m", (F.col("_k") % 64).cast("int").alias("cid")
            )
        )
        refit = (
            sub.join(assign, ["vec_id", "m"])
            .groupBy("m", "cid")
            .agg(mean_cv.alias("cv"))
            # k*m rows re-read by the next round's scored+assign
            # lineage: truncate like kmeans_assignments (coalesced —
            # a 64-row codebook does not need a 32-way fan)
            .coalesce(1)
            .localCheckpoint()
        )
        # superseded codebook round: free eagerly (VERDICT r6 #3)
        release_local_checkpoint(cents)
        cents = refit
    scored = sub.join(F.broadcast(cents), "m").select(
        "vec_id", "m", _argmin_key()
    )
    assign = (
        scored.groupBy("vec_id", "m")
        .agg(F.min("key").alias("_k"))
        .select(
            "vec_id",
            "m",
            (F.col("_k") % 64).cast("int").alias("cid"),
            # bit-identical reconstruction of the 6dp-rounded distance
            F.expr("CAST((_k div 64) AS DOUBLE) / 1000000").alias("bd"),
        )
    )
    return sub, cents, assign


def pq_codes(
    emb: DataFrame,
    m: int = C.PQ_M,
    sub_dim: int = C.PQ_SUB_DIM,
    k: int = C.PQ_K,
    iters: int = C.PQ_ITERS,
    stride: int = C.PQ_SEED_STRIDE,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Product quantization (Jegou et al. 2011): ``m`` independent
    euclidean k-means codebooks, one per ``sub_dim``-wide subspace,
    and the per-vector code + reconstruction error.

    Output: (vec_id, code_0..code_{m-1} INT, err_x1e6 BIGINT) — the
    assigned codeword per subspace after ``iters`` Lloyd rounds and
    the total squared reconstruction error as an exact scaled int.

    Deterministic like :func:`kmeans_assignments` (stride-sampled
    seeds renumbered 0..k-1 by vec_id order, per-round 1e-9 centroid
    rounding, 1e-6 distance rounding, min-cid ties), so the DuckDB
    oracle replays the identical trace.

    Scale shape: the vector corpus explodes x``m`` into subspace rows
    ONCE (a lazy local checkpoint; sf0.1 A/B without it: +9-12% on
    three of its four entries); every Lloyd round is one
    broadcast-hash join against the m*k-row codebook plus one
    map-side-combinable re-centering — the codebook, never the
    corpus, crosses the network. The final wide pivot is a single hash aggregation on
    vec_id.
    """
    _, _, assign = _pq_fit(emb, m, sub_dim, k, iters, stride, vec_col, id_col)
    code_cols = [
        F.min(F.when(F.col("m") == i, F.col("cid"))).cast("int").alias(f"code_{i}")
        for i in range(m)
    ]
    return assign.groupBy("vec_id").agg(
        *code_cols,
        F.round(F.sum("bd") * 1_000_000).cast("long").alias("err_x1e6"),
    )


def pq_adc_topk(
    emb: DataFrame,
    nq: int = C.ADC_N_QUERIES,
    topk: int = C.ADC_TOP_K,
    m: int = C.PQ_M,
    sub_dim: int = C.PQ_SUB_DIM,
    k: int = C.PQ_K,
    iters: int = C.PQ_ITERS,
    stride: int = C.PQ_SEED_STRIDE,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    qstride: int = C.ADC_QUERY_STRIDE,
    qoffset: int = C.ADC_QUERY_OFFSET,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over the PQ-compressed
    corpus (Jegou et al. 2011 §IV): each query keeps its RAW subspace
    vectors and precomputes an ``m*k``-entry lookup table of squared
    distances to every codeword; a candidate's approximate distance
    is then the sum of ``m`` table lookups keyed by its stored code —
    the corpus is scanned as codes, never as vectors.

    Output: (query_id, vec_id, adc_x1e6 BIGINT, rk INT) — the ``topk``
    nearest candidates per query by ADC distance (ties broken on
    vec_id; the query itself excluded).

    Hash-exactness: each LUT entry is the 6dp-rounded squared
    distance scaled to an exact BIGINT (micro-units) BEFORE the
    ``m``-term sum, so the total is an order-free integer sum and the
    ranking cannot flip on fp association.

    Scale shape: the LUT is ``nq * m * k`` rows (tiny) and broadcast;
    the corpus side touches only the final code assignment — one
    broadcast-hash join + one map-side-combinable (query, vec) sum,
    i.e. the linear ADC scan that makes IVFADC viable at billions of
    vectors. No shuffle grows with ``nq``.
    """
    sub, cents, assign = _pq_fit(emb, m, sub_dim, k, iters, stride, vec_col, id_col)
    qids = (
        emb.select(F.col(id_col).alias("query_id"))
        .filter(F.col("query_id") % qstride == qoffset)
        .orderBy("query_id")
        .limit(nq)
    )
    qsub = sub.join(
        F.broadcast(qids), sub.vec_id == qids.query_id
    ).select("query_id", "m", "sv")
    lut = qsub.join(F.broadcast(cents), "m").select(
        "query_id",
        "m",
        "cid",
        F.round(_pq_sqdist() * 1_000_000).cast("long").alias("lut_x1e6"),
    )
    adc = (
        assign.join(F.broadcast(lut), ["m", "cid"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("lut_x1e6").cast("long").alias("adc_x1e6"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_x1e6", "vec_id")
    return adc.select(
        "query_id",
        "vec_id",
        "adc_x1e6",
        F.row_number().over(w).cast("int").alias("rk"),
    ).filter(F.col("rk") <= topk)


def ann_ivfadc_topk(
    emb: DataFrame,
    nq: int = C.ADC_N_QUERIES,
    topk: int = C.ADC_TOP_K,
    n_probe: int = C.IVF_N_PROBE,
    m: int = C.PQ_M,
    sub_dim: int = C.PQ_SUB_DIM,
    k: int = C.PQ_K,
    iters: int = C.PQ_ITERS,
    stride: int = C.PQ_SEED_STRIDE,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    qstride: int = C.ADC_QUERY_STRIDE,
    qoffset: int = C.ADC_QUERY_OFFSET,
) -> DataFrame:
    """IVFADC (Jegou et al. 2011): the production billion-scale ANN
    composition — an IVF coarse quantizer restricts each query to its
    ``n_probe`` nearest cells, and the candidates inside them are
    scored by PQ asymmetric distance (integer LUT sums), never by raw
    vectors. Same queries and arithmetic as :func:`pq_adc_topk`, so
    its recall loss vs the unrestricted ADC scan is directly
    measurable.

    Output: (query_id, vec_id, adc_x1e6 BIGINT, rk INT).

    Scale shape: both codebooks are tiny broadcasts (IVF cells, PQ
    codewords, per-query LUT); the corpus contributes one cell
    assignment scan + one code join over ONLY the probed candidates —
    per-query work is (N/n_lists)*n_probe code lookups, the inverted-
    file contract that serves billion-vector search.
    """
    sub, cents_pq, assign = _pq_fit(
        emb, m, sub_dim, k, iters, stride, vec_col, id_col
    )
    icents = ivf_centroids(emb, vec_col, id_col)
    c = _normed(emb, vec_col, id_col, "c_")
    cell_of = _nearest_centroid(c, icents)
    qids = (
        emb.select(F.col(id_col).alias("query_id"))
        .filter(F.col("query_id") % qstride == qoffset)
        .orderBy("query_id")
        .limit(nq)
    )
    qv = _normed(
        emb.join(F.broadcast(qids), F.col(id_col) == F.col("query_id")),
        vec_col,
        id_col,
        "q_",
    )
    qsim = F.round(
        _dot(F.col("q_v"), F.col("cent_v")) / (F.col("q_n") * F.col("cent_n")),
        6,
    )
    qw = Window.partitionBy("q_id").orderBy(F.desc("_qsim"), F.asc("cid"))
    probes = (
        qv.crossJoin(F.broadcast(icents))
        .select("q_id", "cid", qsim.alias("_qsim"))
        .withColumn("_pr", F.row_number().over(qw))
        .filter(F.col("_pr") <= n_probe)
        .select(F.col("q_id").alias("query_id"), "cid")
    )
    cand = (
        cell_of.join(F.broadcast(probes), "cid")
        .select("query_id", F.col("c_id").alias("vec_id"))
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    qsub = sub.join(
        F.broadcast(qids), sub.vec_id == qids.query_id
    ).select("query_id", "m", "sv")
    lut = qsub.join(F.broadcast(cents_pq), "m").select(
        "query_id",
        "m",
        "cid",
        F.round(_pq_sqdist() * 1_000_000).cast("long").alias("lut_x1e6"),
    )
    adc = (
        cand.join(assign, "vec_id")
        .join(F.broadcast(lut), ["query_id", "m", "cid"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("lut_x1e6").cast("long").alias("adc_x1e6"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_x1e6", "vec_id")
    return adc.select(
        "query_id",
        "vec_id",
        "adc_x1e6",
        F.row_number().over(w).cast("int").alias("rk"),
    ).filter(F.col("rk") <= topk)


def cov_gemm_partials(
    emb: DataFrame, dim: int = C.EMBEDDING_DIM, vec_col: str = "embedding"
) -> DataFrame:
    """Per-task X^T·X / column-sum / count partials via ``mapInArrow``
    + NumPy GEMM (r9, guide §4.2 "do the heavy lifting in native code
    inside the UDF").

    The r8 shape emitted every vector's d·(d+1)/2 coordinate products
    IN-ROW and hash-aggregated the exploded stream — ~2080 struct rows
    per vector (20.8M rows at sf0.1) built and hashed one by one in
    codegen.  A covariance is a GEMM: each task now accumulates its
    partition's ``m.T @ m`` (float64), per-dimension sums and row
    count with vectorized BLAS over whole Arrow batches and emits ONE
    partial set of d·(d+1)/2 + d + 1 rows.  The shuffle then carries
    ~2145 rows per task instead of per-task-combined hash tables built
    from millions of rows.  Value-equivalence: both shapes sum the
    identical multiset of float64 products (float->double is exact),
    only the association order differs — absorbed by the 6dp round
    downstream, verified empirically: 0/2080 differing cells vs the
    explode shape at sf0.1 and oracle-green at all three SFs
    (OPTIMIZATION_r09.md §5).

    Output rows: ``(dim_i>0, dim_j>=dim_i, p)`` upper-triangle product
    partials, ``(dim_i>0, 0, p)`` per-dimension sum partials,
    ``(0, 0, p)`` row-count partials.  Only the vector column crosses
    the Python boundary (guide §4.1 column pruning).
    """

    def gemm(batches):
        import numpy as np
        import pyarrow as pa

        xtx = np.zeros((dim, dim))
        s = np.zeros(dim)
        n = 0
        for b in batches:
            col = b.column(0)
            flat = np.asarray(col.flatten(), dtype=np.float64)
            if flat.size != dim * len(col):  # nulls / ragged rows
                raise ValueError(
                    f"cov_gemm_partials: expected dense {dim}-dim vectors, "
                    f"got {flat.size} values for {len(col)} rows"
                )
            m = flat.reshape(-1, dim)
            xtx += m.T @ m
            s += m.sum(axis=0)
            n += m.shape[0]
        iu = np.triu_indices(dim)
        di = (iu[0] + 1).astype("int32")
        dj = (iu[1] + 1).astype("int32")
        out_i = np.concatenate(
            [di, np.arange(1, dim + 1, dtype="int32"), np.zeros(1, "int32")]
        )
        out_j = np.concatenate(
            [dj, np.zeros(dim, "int32"), np.zeros(1, "int32")]
        )
        out_p = np.concatenate([xtx[iu], s, np.array([float(n)])])
        yield pa.RecordBatch.from_arrays(
            [pa.array(out_i), pa.array(out_j), pa.array(out_p)],
            names=["dim_i", "dim_j", "p"],
        )

    return emb.select(F.col(vec_col).alias("e")).mapInArrow(
        gemm, "dim_i int, dim_j int, p double"
    )


def cov_upper(
    emb: DataFrame,
    dim: int = C.EMBEDDING_DIM,
    partials: DataFrame | None = None,
) -> DataFrame:
    """Upper-triangle sample covariance (dim_i, dim_j, cov) rounded
    6dp from the GEMM partials — the emb_covariance arithmetic:
    cov = (sxy - sx_i*sx_j/n) / (n-1).  ``partials`` lets a caller
    that also needs the moments (PCA's mean vector) share one corpus
    scan."""
    parts = cov_gemm_partials(emb, dim) if partials is None else partials
    sxy = (
        parts.filter(F.col("dim_j") > 0)
        .groupBy("dim_i", "dim_j")
        .agg(F.sum("p").alias("sxy"))
    )
    s = (
        parts.filter((F.col("dim_j") == 0) & (F.col("dim_i") > 0))
        .groupBy(F.col("dim_i").alias("d"))
        .agg(F.sum("p").alias("sx"))
    )
    nn = parts.filter(F.col("dim_i") == 0).agg(F.sum("p").alias("n"))
    sa = s.select(F.col("d").alias("_da"), F.col("sx").alias("sx_i"))
    sb = s.select(F.col("d").alias("_db"), F.col("sx").alias("sx_j"))
    return (
        sxy.join(F.broadcast(sa), sxy.dim_i == sa._da)
        .join(F.broadcast(sb), sxy.dim_j == sb._db)
        .crossJoin(F.broadcast(nn))
        .select(
            "dim_i",
            "dim_j",
            F.round(
                (F.col("sxy") - F.col("sx_i") * F.col("sx_j") / F.col("n"))
                / (F.col("n") - 1),
                6,
            ).alias("cov"),
        )
    )


def pca_power_projection(
    emb: DataFrame,
    dim: int = C.EMBEDDING_DIM,
    iters: int = C.PCA_POWER_ITERS,
) -> DataFrame:
    """Top principal component by fixed-iteration power method, plus
    the per-vector projection onto it.

    The D x D rounded covariance (:func:`cov_upper`, mirrored) is
    iterated ``iters`` times: w = round(C v, 9) -> v = round(w / ||w||, 9),
    starting from the exact-constant uniform vector 1/sqrt(D).  The
    component's sign is canonicalized on dim 1 (flip if negative), the
    top eigenvalue estimate is the final ||w||, and each vector's
    centered projection (x - mu)·v is emitted as an exact x1e4 BIGINT.

    Output: (vec_id, pc1_x1e4 BIGINT, lam_x1e6 BIGINT).

    Everything is declarative — no driver-side collect: the iteration
    state is a 64-row DataFrame (localCheckpoint-truncated per round,
    like the k-means codebooks), and the corpus-side projection is one
    explode + map-side-combined groupBy(vec_id).  At 100x corpus the
    only full-data stages are the covariance scan and the projection
    scan; the iteration cost is constant.
    """
    # r9: ONE corpus scan feeds both the covariance and the mean
    # vector — the GEMM partials carry the per-dimension sums and the
    # count, so the former separate mu pass reads the checkpointed
    # partials instead of re-scanning the corpus (guide §2.4); sf0.1
    # A/B: +24% without the pin.
    parts = cov_gemm_partials(emb, dim).localCheckpoint(eager=False)
    # d^2 rows: single-partition from here on, so each of the tiny
    # iteration shuffles below is one task instead of a 32-way fan
    ut = cov_upper(emb, dim, partials=parts).coalesce(1).localCheckpoint()
    cov = ut.union(
        ut.filter(F.col("dim_i") < F.col("dim_j")).select(
            F.col("dim_j").alias("dim_i"),
            F.col("dim_i").alias("dim_j"),
            "cov",
        )
    )
    v0 = round(1.0 / dim**0.5, 9)
    v = (
        cov.select(F.col("dim_i").alias("d"))
        .distinct()
        .select("d", F.lit(v0).alias("vv"))
    )
    # Each round references its matvec result exactly once (the norm
    # folds in as an unpartitioned window over the 64-row frame), so
    # the whole ``iters``-deep chain is ONE linear lineage — no
    # per-round checkpoint or scalar cross join needed; only the
    # corpus-derived covariance is truncated above.
    wall = Window.partitionBy(F.lit(1))
    for _ in range(iters):
        v = (
            cov.join(F.broadcast(v), cov.dim_j == v.d)
            .groupBy("dim_i")
            .agg(F.round(F.sum(F.col("cov") * F.col("vv")), 9).alias("wv"))
            .select(
                F.col("dim_i").alias("d"),
                "wv",
                F.round(
                    F.sqrt(F.sum(F.col("wv") * F.col("wv")).over(wall)), 9
                ).alias("nrm"),
            )
            .select("d", F.round(F.col("wv") / F.col("nrm"), 9).alias("vv"), "nrm")
        )
    # dim-1 sign canonicalization as one more window over the same
    # 64-row frame (still a single linear lineage)
    sgn = F.max(
        F.when(
            F.col("d") == 1,
            F.when(F.col("vv") < 0, F.lit(-1.0)).otherwise(F.lit(1.0)),
        )
    ).over(wall)
    vf = v.select(
        "d", (F.col("vv") * sgn).alias("vv"), "nrm"
    ).localCheckpoint()
    lam = vf.agg(F.max("nrm").alias("nrm"))
    # mean vector from the SAME checkpointed partials as the covariance
    # (formerly an independent posexplode pass over the corpus)
    mu = (
        parts.filter((F.col("dim_j") == 0) & (F.col("dim_i") > 0))
        .groupBy(F.col("dim_i").alias("d"))
        .agg(F.sum("p").alias("sx"))
        .crossJoin(
            F.broadcast(
                parts.filter(F.col("dim_i") == 0).agg(F.sum("p").alias("n"))
            )
        )
        .select("d", F.round(F.col("sx") / F.col("n"), 9).alias("mu"))
    )
    # r9: the projection is an IN-ROW dot product against the two
    # broadcast 1-row (d-length) arrays — the former posexplode +
    # per-d join + groupBy(vec_id) shuffled n*d rows just to sum d
    # terms per vector.  The fixed ascending-d fold sums the same d
    # doubles; the x1e4 round absorbs association-order ulps
    # (oracle-verified at all three SFs).
    varr = (
        vf.select("d", "vv")
        .agg(F.array_sort(F.collect_list(F.struct("d", "vv"))).alias("a"))
        .select(F.transform("a", lambda s: s.vv).alias("v_arr"))
    )
    muarr = (
        mu.agg(F.array_sort(F.collect_list(F.struct("d", "mu"))).alias("a"))
        .select(F.transform("a", lambda s: s.mu).alias("mu_arr"))
    )
    e = F.col("embedding").cast("array<double>")
    proj = F.aggregate(
        F.sequence(F.lit(1), F.lit(dim)),
        F.lit(0.0),
        lambda acc, i: acc
        + (F.element_at(e, i) - F.element_at("mu_arr", i))
        * F.element_at("v_arr", i),
    )
    return (
        emb.crossJoin(F.broadcast(varr))
        .crossJoin(F.broadcast(muarr))
        .select(
            "vec_id",
            F.round(proj * 10_000).cast("long").alias("pc1_x1e4"),
        )
        .crossJoin(F.broadcast(lam))
        .select(
            "vec_id",
            "pc1_x1e4",
            F.round(F.col("nrm") * 1_000_000).cast("long").alias("lam_x1e6"),
        )
    )


def pq_block_neardup(emb: DataFrame, m: int = C.PQ_M) -> DataFrame:
    """Near-duplicate candidates by product-quantization blocking:
    two vectors are candidates iff they quantize to the SAME code in
    every subspace; each candidate pair is confirmed with the exact
    cosine from the raw embeddings.

    Output: (id_a, id_b, cos_x1e6 BIGINT, is_neardup INT) with
    id_a < id_b, is_neardup = cosine >= NEARDUP_COSINE_THRESHOLD.

    Scale shape: the blocking join keys on the full 4-code tuple
    (16^4 possible blocks), so expected per-block occupancy stays
    ~n/65536 — the candidate set is near-linear in corpus size,
    unlike the all-pairs exact kernel (``dd_embedding_neardup``)
    this composes with as its oracle. Confirmation touches only the
    candidate pairs' raw vectors (a self-equi-join on vec_id).
    """
    codes = pq_codes(emb)
    code_cols = [f"code_{i}" for i in range(m)]
    a = codes.select(F.col("vec_id").alias("id_a"), *code_cols)
    b = codes.select(F.col("vec_id").alias("id_b"), *code_cols)
    cand = a.join(b, code_cols).filter(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b"
    )
    va = _normed(emb, "embedding", "vec_id", "a_")
    vb = _normed(emb, "embedding", "vec_id", "b_")
    cos = F.round(
        _dot(F.col("a_v"), F.col("b_v")) / (F.col("a_n") * F.col("b_n")), 6
    )
    return (
        cand.join(va, cand.id_a == va.a_id)
        .join(vb, cand.id_b == vb.b_id)
        .select(
            "id_a",
            "id_b",
            F.round(cos * 1_000_000).cast("long").alias("cos_x1e6"),
        )
        .withColumn(
            "is_neardup",
            (
                F.col("cos_x1e6")
                >= int(C.NEARDUP_COSINE_THRESHOLD * 1_000_000)
            ).cast("int"),
        )
    )


def ann_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame | Column,
    k: int = C.ANN_TOP_K,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = C.EMBEDDING_DIM,
) -> DataFrame:
    """Multi-probe sign-LSH ANN: each query searches its own bucket
    PLUS the ``LSH_N_PLANES`` neighboring buckets that differ by one
    flipped hyperplane bit — the standard recall rescue for
    single-probe LSH (Lv et al., VLDB 2007): a near neighbor that
    landed one sign-flip away is recovered without adding tables or
    re-hashing the corpus.

    Candidate cost is (1 + n_planes) bucket probes per query instead
    of 1; the corpus-side index is UNCHANGED (same bucket column,
    same layout), so a deployment can dial recall per query set.
    Each corpus row has one bucket and the probe list is distinct,
    so no candidate dedup pass is needed.
    """
    c_all = _normed(corpus, vec_col, id_col, "c_").join(
        hyperplane_buckets(corpus, vec_col, id_col, dim).withColumnsRenamed(
            {"vec_id": "c_id"}
        ),
        "c_id",
    )
    if isinstance(queries, Column):
        q_src = corpus.filter(queries)
    else:
        q_src = queries
    q = _normed(q_src, vec_col, id_col, "q_").join(
        hyperplane_buckets(q_src, vec_col, id_col, dim).withColumnsRenamed(
            {"vec_id": "q_id"}
        ),
        "q_id",
    )
    probes = q.select(
        "q_id",
        "q_v",
        "q_n",
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.expr(f"bucket ^ {2 ** p}")
                    for p in range(C.LSH_N_PLANES)
                ],
            )
        ).alias("probe"),
    )
    sim = F.round(
        _dot(F.col("q_v"), F.col("c_v")) / (F.col("q_n") * F.col("c_n")), 6
    )
    scored = (
        c_all.join(
            F.broadcast(probes), F.col("probe") == F.col("bucket")
        )
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            sim.alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )
