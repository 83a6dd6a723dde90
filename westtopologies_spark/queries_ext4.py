"""Fourth catalog-extension batch (round 3 continuation): link
analysis and corpus-curation statistics that round out the graph,
text, train-prep, embedding, multimodal, and temporal families —
HITS hub/authority scores, per-node clustering coefficients, a Zipf
law fit over the term-frequency spectrum, temperature-weighted
source mixture planning, diagonal-Mahalanobis embedding outlier
scores, an audio-modality framing plan, and the Mann-Kendall trend
test.

Same oracle discipline as the earlier batches (ORACLE_DISCIPLINE.md,
driver-hash rules): every computed output ships as an exact integer
— positive-domain ``DIV`` ratios, half-up integer cents, per-round
1e-9 rounding for the iterative kernel, and scaled-BIGINT wraps
composed IDENTICALLY in the Spark plan and the oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .ops import graph as G
from .queries import _ckpt_small, _event_edges, _register, _t
from .queries_graph import _DEDGES_CTE, _TW_CTE, _UEDGES_CTE
from .scale import multimodal as MM
from .scale import temporal as TS

# ---------------------------------------------------------------------------
# HITS hubs & authorities (Kleinberg 1999) — fixed-iteration link
# analysis over the reply graph, max-normalized for cross-engine
# exactness (max is aggregation-order-independent; L2 is not)
# ---------------------------------------------------------------------------


def _hits_sql() -> str:
    sql = (
        _TW_CTE
        + _DEDGES_CTE
        + """
    , nodes AS (SELECT DISTINCT user_id AS node FROM events),
    h0 AS (SELECT node, 1.0 AS h FROM nodes)
    """
    )
    for i in range(1, G.HITS_ITERS + 1):
        sql += f"""
    , ra{i} AS (
      SELECT e.dst, round(sum(h.h), 9) AS raw_a
      FROM dedges e JOIN h{i - 1} h ON h.node = e.src GROUP BY 1
    ),
    am{i} AS (SELECT max(raw_a) AS m FROM ra{i}),
    a{i} AS (
      SELECT n.node, round(coalesce(r.raw_a, 0.0) / am.m, 9) AS a
      FROM nodes n LEFT JOIN ra{i} r ON r.dst = n.node CROSS JOIN am{i} am
    ),
    rh{i} AS (
      SELECT e.src, round(sum(a.a), 9) AS raw_h
      FROM dedges e JOIN a{i} a ON a.node = e.dst GROUP BY 1
    ),
    hm{i} AS (SELECT max(raw_h) AS m FROM rh{i}),
    h{i} AS (
      SELECT n.node, round(coalesce(r.raw_h, 0.0) / hm.m, 9) AS h
      FROM nodes n LEFT JOIN rh{i} r ON r.src = n.node CROSS JOIN hm{i} hm
    )
    """
    it = G.HITS_ITERS
    sql += f"""
    SELECT a.node AS user_id,
           CAST(round(a.a * 1000000) AS BIGINT) AS auth_x1e6,
           CAST(round(h.h * 1000000) AS BIGINT) AS hub_x1e6
    FROM a{it} a JOIN h{it} h ON h.node = a.node
    """
    return sql


@_register(
    "gr_hits",
    _hits_sql(),
    doc="HITS hub/authority scores (Kleinberg 1999), 2 unrolled "
    "rounds over the directed reply edges — the link-analysis "
    "complement of gr_pagerank (the reference's role cascade, "
    "RoleAnalysisBolt.java, separates the same answerer/asker "
    "populations heuristically). Declared semantics: per-node sums "
    "rounded 1e-9, MAX-normalized each half-round (max is "
    "aggregation-order-independent, unlike the textbook L2 norm, so "
    "both engines replay the identical trace). Two keyed shuffles + "
    "one scalar broadcast per round; no collect. Hash-exact output "
    "(scaled BIGINT). Graph-analytics extension.",
)
def gr_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    tweets = _event_edges(spark, sf_dir)
    # r8 (guide §2.4, §5): hits() references dedges 4x and nodes 5x
    # across the unrolled rounds — one plan re-deriving the events
    # self-join each time (268 scans of events in the before plan,
    # saved only partially by runtime exchange reuse).  localCheckpoint
    # the two small loop-invariant frames ONCE: eager, lineage-
    # truncating, and — unlike persist(), which was A/B-measured to
    # REGRESS 3.7->20.6s by pinning partitioning and defeating AQE —
    # each downstream round reads a tiny materialized RDD.  Blocks are
    # reclaimed by the harness's periodic driver GC (same contract as
    # the connected-components / BPE checkpoints).
    dedges = G.directed_edges(tweets).coalesce(8).localCheckpoint()
    nodes = (
        tweets.select(F.col("author_id").alias("node"))
        .distinct()
        .coalesce(4)
        .localCheckpoint()
    )
    return G.hits(nodes, dedges)


# ---------------------------------------------------------------------------
# per-node local clustering coefficient — all-integer (DIV x1e4)
# ---------------------------------------------------------------------------


@_register(
    "gr_local_clustering",
    _TW_CTE
    + _UEDGES_CTE
    + """
    , deg AS (
      SELECT node AS user_id, count(*) AS degree FROM (
        SELECT u AS node FROM uedges UNION ALL SELECT v FROM uedges
      ) GROUP BY 1
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM uedges e1
      JOIN uedges e2 ON e2.u = e1.v
      JOIN uedges e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    tcnt AS (
      SELECT user_id, count(*) AS n_triangles FROM (
        SELECT a AS user_id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY 1
    )
    SELECT d.user_id, d.degree,
           coalesce(t.n_triangles, 0) AS n_triangles,
           CASE WHEN d.degree >= 2
                THEN (coalesce(t.n_triangles, 0) * 2 * 10000)
                       // (d.degree * (d.degree - 1))
                ELSE 0 END AS lcc_x1e4
    FROM deg d LEFT JOIN tcnt t ON t.user_id = d.user_id
    """,
    doc="Per-node local clustering coefficient 2*tri/(deg*(deg-1)): "
    "the community-cohesion score behind friend-of-friend quality "
    "checks, computed from the ordered-edge triangle kernel plus one "
    "symmetric-degree aggregation. Degrees and triangle counts are "
    "exact BIGINTs, so the coefficient ships as positive-domain "
    "integer division x1e4 — hash-exact. Graph-analytics extension.",
)
def gr_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    return G.local_clustering(_ckpt_small(G.user_edges(_event_edges(spark, sf_dir))))


# ---------------------------------------------------------------------------
# Zipf's-law fit over the term-frequency spectrum — the corpus-health
# diagnostic (natural corpora fit slope ~ -1; synthetic/templated
# text departs visibly)
# ---------------------------------------------------------------------------

ZIPF_TOP_V = 10_000  # rank cap: bounds the regression frame AND keeps
# the 1e6-scaled log sums inside BIGINT (1e4 * (1.2e7)^2 ~ 1.4e18 < 2^63)


@_register(
    "tx_zipf_fit",
    f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tf AS (SELECT tok, count(*) AS f FROM toks WHERE tok <> '' GROUP BY 1),
    rk AS (
      SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS r FROM tf
    ),
    pts AS (
      SELECT CAST(round(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT) AS x,
             CAST(round(ln(CAST(f AS DOUBLE)) * 1000000) AS BIGINT) AS y
      FROM rk WHERE r <= {ZIPF_TOP_V}
    ),
    s AS (
      SELECT count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM pts
    )
    SELECT n AS n_terms,
           CAST(round(
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 1000000
           ) AS BIGINT) AS slope_x1e6,
           CAST(round(
             (CAST(sy AS DOUBLE)
              - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE)
           ) AS BIGINT) AS intercept_x1e6
    FROM s WHERE n >= 2
    """,
    doc="Zipf's-law fit: OLS slope/intercept of ln(frequency) vs "
    "ln(rank) over the top-10k terms — the corpus-health diagnostic "
    "(natural text fits slope ~ -1; templated or synthetic text "
    "departs). Per-term logs round to 1e6-scaled BIGINTs FIRST, so "
    "the four sufficient statistics fold as exact integers "
    "(order-free) and the closed form runs as one shared double "
    "expression — the ag_linfit pattern over the term spectrum. The "
    "rank window runs on the tf frame (vocabulary-sized, capped at "
    "10k — bounded however large the corpus). Text-analysis "
    "extension. Hash-exact output (scaled BIGINT).",
)
def tx_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok")).filter(
        F.col("tok") != ""
    )
    tf = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    # vocabulary-sized frame: one partition for the global rank
    # window (same trade as the tx_textrank/BPE vocab frames)
    w = Window.orderBy(F.desc("f"), F.asc("tok"))
    rk = (
        tf.coalesce(1)
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= ZIPF_TOP_V)
    )
    pts = rk.select(
        F.round(F.log(F.col("r").cast("double")) * 1_000_000)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("f").cast("double")) * 1_000_000)
        .cast("long")
        .alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    ).filter(F.col("n") >= 2)
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    sxxd = F.col("sxx").cast("double")
    slope_c = (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
    return s.select(
        F.col("n").alias("n_terms"),
        F.round(slope_c * 1_000_000).cast("long").alias("slope_x1e6"),
        F.round((syd - slope_c * sxd) / nd).cast("long").alias("intercept_x1e6"),
    )


# ---------------------------------------------------------------------------
# temperature-weighted source mixture plan (the multi-corpus sampling
# schedule of GPT-3/PaLM-style training: weight ~ size^(1/T), T=2)
# ---------------------------------------------------------------------------


@_register(
    "tp_temp_mixture",
    """
    WITH src AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS n_chars_total
      FROM documents GROUP BY 1
    ),
    sq AS (
      SELECT source, n_docs, n_chars_total,
             CAST(round(sqrt(CAST(n_chars_total AS DOUBLE)) * 1000000)
                  AS BIGINT) AS s
      FROM src
    ),
    tot AS (
      SELECT CAST(sum(s) AS BIGINT) AS st,
             CAST(sum(n_docs) AS BIGINT) AS nd
      FROM sq
    )
    SELECT source, n_docs, n_chars_total,
           (s * 1000000) // st AS w_x1e6,
           (s * nd) // st AS target_docs,
           (((s * nd) // st) * 10000) // n_docs AS oversample_x1e4
    FROM sq CROSS JOIN tot
    """,
    doc="Temperature-weighted source mixture plan (T=2: sampling "
    "weight ~ sqrt of per-source character mass — the multi-corpus "
    "schedule of GPT-3/PaLM-style training that upsamples small "
    "high-quality sources): per-source weight, target document "
    "quota, and oversampling factor. sqrt is IEEE-correctly-rounded "
    "on both engines, so round(sqrt*1e6) BIGINT is exact; every "
    "downstream ratio is positive-domain integer division over an "
    "integer total — fully hash-exact with NO rounding precedent "
    "risk. One map-combinable groupBy + a broadcast scalar total. "
    "Training-data-prep extension.",
)
def tp_temp_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars_total"),
    )
    sq = src.withColumn(
        "s",
        F.round(F.sqrt(F.col("n_chars_total").cast("double")) * 1_000_000).cast(
            "long"
        ),
    )
    tot = sq.agg(
        F.sum("s").cast("long").alias("st"),
        F.sum("n_docs").cast("long").alias("nd"),
    )
    # st == 0 when every document is NULL/empty: Spark DIV throws
    # under ANSI while DuckDB // yields NULL — guard to NULL (rule 15;
    # fuzzer-found crash). NULL then propagates through the outer DIV.
    return sq.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_chars_total",
        F.expr(
            "CASE WHEN st <> 0 THEN (s * 1000000) DIV st END"
        ).alias("w_x1e6"),
        F.expr(
            "CASE WHEN st <> 0 THEN (s * nd) DIV st END"
        ).alias("target_docs"),
        F.expr(
            "CASE WHEN st <> 0 THEN (((s * nd) DIV st) * 10000) DIV n_docs END"
        ).alias("oversample_x1e4"),
    )


# ---------------------------------------------------------------------------
# diagonal-Mahalanobis embedding outlier score — variance-scaled
# distance from the corpus centroid (the cheap whitening-free novelty
# scorer; the full-covariance version factors through emb_covariance)
# ---------------------------------------------------------------------------


@_register(
    "emb_mahalanobis",
    """
    WITH e AS (
      SELECT vec_id, label, generate_subscripts(embedding, 1) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    st AS (SELECT d, count(*) AS n, sum(v) AS sx, sum(v * v) AS sxx
           FROM e GROUP BY 1),
    mv AS (
      SELECT d, round(sx / n, 6) AS mu,
             round((sxx - sx * sx / n) / (n - 1), 6) AS var
      FROM st
    ),
    c AS (
      SELECT e.vec_id, e.label,
             CAST(round(((e.v - mv.mu) * (e.v - mv.mu) / mv.var) * 10000)
                  AS BIGINT) AS ct
      FROM e JOIN mv ON mv.d = e.d WHERE mv.var > 0
    )
    SELECT vec_id, label, CAST(sum(ct) AS BIGINT) AS maha_x1e4
    FROM c GROUP BY 1, 2
    """,
    doc="Diagonal-Mahalanobis embedding outlier score: per-dimension "
    "mean/variance over the corpus (rounded 1e-6, the emb_covariance "
    "exact-moment pattern), then each vector's variance-scaled "
    "squared distance from the centroid — the cheap novelty/garbage "
    "scorer that flags off-manifold embeddings before expensive "
    "near-dup or ANN stages. Per-dimension contributions round to "
    "x1e4 BIGINT FIRST, so the per-vector sum folds order-free. "
    "Plan: one posexplode + map-combinable groupBy(dim) (64 rows "
    "broadcast back), one groupBy(vec) — no self-join, no UDF. "
    "Embedding-column extension. Hash-exact output (scaled BIGINT).",
)
def emb_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("d0", "v")
    ).select(
        "vec_id",
        "label",
        (F.col("d0") + 1).alias("d"),
        F.col("v").cast("double").alias("v"),
    )
    st = e.groupBy("d").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sx"),
        F.sum(F.col("v") * F.col("v")).alias("sxx"),
    )
    mv = st.select(
        "d",
        F.round(F.col("sx") / F.col("n"), 6).alias("mu"),
        F.round(
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            / (F.col("n") - 1),
            6,
        ).alias("var"),
    ).filter(F.col("var") > 0)
    c = e.join(F.broadcast(mv), "d").select(
        "vec_id",
        "label",
        F.round(
            (F.col("v") - F.col("mu"))
            * (F.col("v") - F.col("mu"))
            / F.col("var")
            * 10_000
        )
        .cast("long")
        .alias("ct"),
    )
    return c.groupBy("vec_id", "label").agg(
        F.sum("ct").cast("long").alias("maha_x1e4")
    )


# ---------------------------------------------------------------------------
# audio-modality framing plan — metadata-only batcher math, the audio
# sibling of mm_tile_plan (images); all positive-domain integers
# ---------------------------------------------------------------------------


@_register(
    "mm_audio_frames",
    f"""
    WITH b AS (
      SELECT doc_id,
             CAST(8000 + (doc_id % 4) * 4000 AS BIGINT) AS sample_rate,
             strlen(text) // 2 AS n_samples
      FROM documents
    ),
    b2 AS (
      SELECT *, CASE WHEN n_samples >= {MM.AUDIO_FRAME}
                     THEN ((n_samples - {MM.AUDIO_FRAME})
                            // {MM.AUDIO_HOP}) + 1
                     ELSE 0 END AS n_frames
      FROM b
    )
    SELECT doc_id, sample_rate, n_samples,
           (n_samples * 1000) // sample_rate AS duration_ms,
           n_frames,
           CAST({MM.AUDIO_FRAME // 2 + 1} AS BIGINT) AS n_fft_bins,
           n_frames * {MM.AUDIO_FRAME // 2 + 1} AS stft_cells,
           least(n_frames // 16, 7) AS pad_bucket
    FROM b2
    """,
    doc="Audio-modality framing plan: treat each binary payload as "
    "16-bit mono PCM at a deterministic per-item sample rate (fake "
    "container metadata, same stub boundary as the image decode) and "
    "emit the speech-batcher numbers — sample count, duration, STFT "
    "frame count (512/256 window/hop), spectrogram cells, and a "
    "padding bucket for length-sorted GPU packing — BEFORE any "
    "sample is decoded. Pure positive-domain integer expressions in "
    "the scan stage (no shuffle, no UDF), the audio sibling of "
    "mm_tile_plan. Multimodal extension.",
)
def mm_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    bdocs = MM.as_binary_docs(_t(spark, sf_dir, "documents"))
    return MM.audio_frame_plan(bdocs)


# ---------------------------------------------------------------------------
# Mann-Kendall trend test on the daily activity series — exact-integer
# S statistic and tie-corrected variance numerator
# ---------------------------------------------------------------------------


@_register(
    "ts_mann_kendall",
    """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS yc
      FROM events GROUP BY 1
    ),
    p AS (
      SELECT CASE WHEN b.yc > a.yc THEN 1
                  WHEN b.yc < a.yc THEN -1 ELSE 0 END AS sgn
      FROM daily a JOIN daily b ON b.day > a.day
    ),
    s AS (SELECT CAST(coalesce(sum(sgn), 0) AS BIGINT) AS s_stat FROM p),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
    tt AS (
      SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_sum
      FROM (SELECT count(*) AS t FROM daily GROUP BY yc)
    ),
    f AS (
      SELECT s_stat, n_days,
             CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_sum
                  AS BIGINT) AS var_num
      FROM s CROSS JOIN nn CROSS JOIN tt
    )
    SELECT n_days, s_stat, var_num,
           CAST(round(
             CASE WHEN s_stat > 0
                    THEN (s_stat - 1) / sqrt(var_num / 18.0)
                  WHEN s_stat < 0
                    THEN (s_stat + 1) / sqrt(var_num / 18.0)
                  ELSE 0.0 END * 1000000
           ) AS BIGINT) AS z_x1e6
    FROM f
    """,
    doc="Mann-Kendall trend test over the daily activity series — "
    "the nonparametric is-this-metric-drifting monitor that "
    "precedes an OLS fit (ag_linfit). Daily values fold as half-up "
    "integer cents, so the S statistic, day count, and tie-corrected "
    "variance numerator n(n-1)(2n+5)-sum(t(t-1)(2t+5)) are all exact "
    "BIGINTs; only the normal-approximation z rides one shared "
    "double expression into a scaled int. The O(days^2) pair join "
    "runs over the PRE-AGGREGATED daily frame (bounded by calendar "
    "days at any corpus size) with the build side broadcast. "
    "Temporal extension. Hash-exact output.",
)
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TS.mann_kendall(_t(spark, sf_dir, "events"))


# ===========================================================================
# batch 4b: k-hop reach, Benford audit, term burstiness, mutual
# information, nDCG ranking-quality audit
# ===========================================================================

import math  # noqa: E402

from .scale import constants as C  # noqa: E402
from .scale import similarity  # noqa: E402

# ---------------------------------------------------------------------------
# bounded-hop BFS reach from a deterministic seed set
# ---------------------------------------------------------------------------

KHOP_SEED_MOD = 97  # seeds: user_id % 97 == 0 (deterministic slice)


def _khop_sql() -> str:
    sql = (
        _TW_CTE
        + _UEDGES_CTE
        + f"""
    , adj AS (
      SELECT u AS node, v AS nb FROM uedges
      UNION ALL SELECT v AS node, u AS nb FROM uedges
    ),
    r0 AS (
      SELECT DISTINCT user_id AS node, 0 AS hop FROM events
      WHERE user_id % {KHOP_SEED_MOD} = 0
    )
    """
    )
    for h in range(1, G.KHOP_HOPS + 1):
        prev_union = " UNION ALL ".join(
            f"SELECT node FROM r{j}" for j in range(h)
        )
        sql += f"""
    , f{h} AS (
      SELECT DISTINCT a.nb AS node
      FROM adj a JOIN r{h - 1} r ON a.node = r.node
    ),
    r{h} AS (
      SELECT node, {h} AS hop FROM f{h}
      WHERE node NOT IN ({prev_union})
    )
    """
    final_union = " UNION ALL ".join(
        f"SELECT node, hop FROM r{j}" for j in range(G.KHOP_HOPS + 1)
    )
    sql += f"""
    SELECT node AS user_id, CAST(hop AS BIGINT) AS hop
    FROM ({final_union})
    """
    return sql


@_register(
    "gr_khop_reach",
    _khop_sql(),
    doc="Bounded-hop BFS reach: minimum hop count (<= 3) from a "
    "deterministic seed slice of users over the undirected reply "
    "graph — the influence-reach / contamination-spread primitive "
    "(who is within k introductions of a flagged account). Unrolled "
    "frontier-expansion rounds (one keyed join + one anti join "
    "each); first-discovery round == min distance, so the output is "
    "all-integer and trivially hash-exact. Graph-analytics "
    "extension.",
)
def gr_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    tweets = _event_edges(spark, sf_dir)
    seeds = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") % KHOP_SEED_MOD == 0)
        .select(F.col("user_id").alias("node"))
        .distinct()
    )
    return G.khop_reach(seeds, _ckpt_small(G.user_edges(tweets)))


# ---------------------------------------------------------------------------
# Benford first-digit audit over order totals — the classic
# fabricated-numbers / data-quality screen
# ---------------------------------------------------------------------------


@_register(
    "ag_benford",
    """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                         AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1.0
    ),
    c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM d GROUP BY 1),
    t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM c)
    SELECT digit, n_obs,
           (n_obs * 1000000) // t.n AS obs_x1e6,
           CAST(round(log10(1.0 + 1.0 / digit) * 1000000) AS BIGINT)
             AS exp_x1e6,
           (n_obs * 1000000) // t.n
             - CAST(round(log10(1.0 + 1.0 / digit) * 1000000) AS BIGINT)
             AS dev_x1e6
    FROM c CROSS JOIN t
    """,
    doc="Benford first-digit audit of order totals: observed vs "
    "expected log10(1+1/d) leading-digit frequencies — the classic "
    "fabricated-numbers screen, and a cheap distribution-drift "
    "canary for any positive monetary column. The digit comes from "
    "exact integer floor-and-substring (no float formatting), "
    "frequencies are positive-domain integer division, and the "
    "expectation is a 9-value constant expression — fully hash-"
    "exact. One map-combinable groupBy + a scalar total broadcast. "
    "Aggregate-statistics extension.",
)
def ag_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1.0)
    d = orders.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    t = c.agg(F.sum("n_obs").cast("long").alias("n"))
    exp = F.round(F.log10(1.0 + 1.0 / F.col("digit")) * 1_000_000).cast("long")
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "digit",
            "n_obs",
            F.expr("(n_obs * 1000000) DIV n").alias("obs_x1e6"),
            exp.alias("exp_x1e6"),
            (F.expr("(n_obs * 1000000) DIV n") - exp).alias("dev_x1e6"),
        )
    )


# ---------------------------------------------------------------------------
# term burstiness / dispersion — Church-Gale rate-when-present and
# variance-to-mean ratio (the keyword-vs-function-word separator)
# ---------------------------------------------------------------------------

BURST_MIN_DF = 3


@_register(
    "tx_burstiness",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    pc AS (
      SELECT tok, doc_id, count(*) AS c FROM toks WHERE tok <> ''
      GROUP BY 1, 2
    ),
    st AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS df,
             CAST(sum(c) AS BIGINT) AS cf,
             CAST(sum(c * c) AS BIGINT) AS cf2
      FROM pc GROUP BY 1
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents)
    SELECT tok, df, cf,
           (cf * 10000) // df AS rate_x1e4,
           ((nn.nd * cf2 - cf * cf) * 10000) // (nn.nd * cf) AS vmr_x1e4
    FROM st CROSS JOIN nn
    WHERE df >= {BURST_MIN_DF}
    """,
    doc="Term burstiness: Church-Gale rate-when-present (cf/df) and "
    "the corpus-wide variance-to-mean ratio of per-document counts "
    "(zeros included, computed from the exact integer moments "
    "N*sum(c^2)-cf^2 over N*cf) — the statistic that separates "
    "bursty content words from evenly-spread function words, used "
    "to pick keyword candidates and stopword lists. All-integer "
    "positive-domain division (Cauchy-Schwarz keeps the numerator "
    ">= 0); two map-combinable shuffles. Text-analysis extension.",
)
def tx_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    pc = toks.groupBy("tok", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    st = pc.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("c").alias("cf"),
        F.sum(F.col("c") * F.col("c")).alias("cf2"),
    )
    nn = docs.agg(F.count(F.lit(1)).alias("nd"))
    return (
        st.filter(F.col("df") >= BURST_MIN_DF)
        .crossJoin(F.broadcast(nn))
        .select(
            "tok",
            "df",
            "cf",
            F.expr("(cf * 10000) DIV df").alias("rate_x1e4"),
            F.expr("((nd * cf2 - cf * cf) * 10000) DIV (nd * cf)").alias(
                "vmr_x1e4"
            ),
        )
    )


# ---------------------------------------------------------------------------
# mutual information between event type and user segment — the
# feature-association screen (contingency-table MI in nats)
# ---------------------------------------------------------------------------

MI_SEG_MOD = 10


@_register(
    "ag_mutual_info",
    f"""
    WITH c AS (
      SELECT event_type AS et, user_id % {MI_SEG_MOD} AS seg,
             CAST(count(*) AS BIGINT) AS nij
      FROM events GROUP BY 1, 2
    ),
    ri AS (SELECT et, CAST(sum(nij) AS BIGINT) AS ni FROM c GROUP BY 1),
    cj AS (SELECT seg, CAST(sum(nij) AS BIGINT) AS nj FROM c GROUP BY 1),
    nn AS (SELECT CAST(sum(nij) AS BIGINT) AS n FROM c),
    cell AS (
      SELECT CAST(round(
               (CAST(nij AS DOUBLE) / n)
               * ln((CAST(nij AS DOUBLE) * CAST(n AS DOUBLE))
                    / (CAST(ni AS DOUBLE) * CAST(nj AS DOUBLE)))
               * 1000000000
             ) AS BIGINT) AS mi_c
      FROM c JOIN ri USING (et) JOIN cj USING (seg) CROSS JOIN nn
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(mi_c) AS BIGINT) AS mi_x1e9
    FROM cell
    """,
    doc="Mutual information (nats) between event type and a "
    "deterministic user segment, from the exact contingency table — "
    "the feature-association screen behind feature selection and "
    "leakage checks (MI ~ 0 means the segment carries no signal). "
    "Per-cell contributions run as ONE shared double expression over "
    "exact integer counts, round to 1e9-scaled BIGINTs FIRST, and "
    "integer-sum (order-free) — the ag_linfit discipline applied to "
    "the chi-square family's information-theoretic sibling. One "
    "map-combinable groupBy plus two broadcast marginal joins over "
    "the bounded cell frame. Aggregate-statistics extension.",
)
def ag_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy(
        F.col("event_type").alias("et"),
        (F.col("user_id") % MI_SEG_MOD).alias("seg"),
    ).agg(F.count(F.lit(1)).alias("nij"))
    c = c.localCheckpoint()  # consumed 4x (cells + both marginals + total)
    ri = c.groupBy("et").agg(F.sum("nij").alias("ni"))
    cj = c.groupBy("seg").agg(F.sum("nij").alias("nj"))
    nn = c.agg(F.sum("nij").alias("n"))
    cell = (
        c.join(F.broadcast(ri), "et")
        .join(F.broadcast(cj), "seg")
        .crossJoin(F.broadcast(nn))
        .select(
            F.round(
                (F.col("nij").cast("double") / F.col("n"))
                * F.log(
                    (F.col("nij").cast("double") * F.col("n").cast("double"))
                    / (F.col("ni").cast("double") * F.col("nj").cast("double"))
                )
                * 1_000_000_000
            )
            .cast("long")
            .alias("mi_c")
        )
    )
    return cell.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("mi_c").cast("long").alias("mi_x1e9"),
    )


# ---------------------------------------------------------------------------
# nDCG@k ranking-quality audit of the LSH search against the exact
# ranking — position-weighted recall (recall@k treats rank 1 == rank k)
# ---------------------------------------------------------------------------


def _ndcg_ideal_x1e6(k: int) -> int:
    """IDCG@k with graded relevance (k+1-i) at position i, each
    position's term rounded to a 1e6-scaled int exactly as the
    per-row contributions are — so ndcg == 1.0 exactly when the
    approximate ranking equals the exact one."""
    return sum(round((k + 1 - i) / math.log2(i + 1) * 1_000_000) for i in range(1, k + 1))


def _ann_ndcg_sql() -> str:
    # deferred sibling import (circular-import class, r5 fix)
    from .queries_scale import _ann_bruteforce_sql, _ann_lsh_sql

    k = C.ANN_TOP_K
    ideal = _ndcg_ideal_x1e6(k)
    return f"""
    WITH exact_r AS ({_ann_bruteforce_sql()}),
    lsh_r AS ({_ann_lsh_sql()}),
    contrib AS (
      SELECT l.query_id,
             CAST(round(({k} + 1 - e.rank)
                        / log2(l.rank + 1) * 1000000) AS BIGINT) AS dg
      FROM lsh_r l JOIN exact_r e
        ON e.query_id = l.query_id AND e.neighbor_id = l.neighbor_id
    ),
    dcg AS (
      SELECT query_id, CAST(sum(dg) AS BIGINT) AS dcg_x1e6
      FROM contrib GROUP BY 1
    )
    SELECT q.query_id,
           coalesce(d.dcg_x1e6, 0) AS dcg_x1e6,
           CAST({ideal} AS BIGINT) AS idcg_x1e6,
           (coalesce(d.dcg_x1e6, 0) * 10000) // {ideal} AS ndcg_x1e4
    FROM (SELECT DISTINCT query_id FROM exact_r) q
    LEFT JOIN dcg d ON d.query_id = q.query_id
    """


@_register(
    "ann_ndcg",
    _ann_ndcg_sql,  # lazy: sibling-submodule helper import
    doc="nDCG@k audit of the sign-LSH search against the exact "
    "brute-force ranking, graded relevance k+1-i by ground-truth "
    "position — the position-weighted companion of ann_recall_audit "
    "(recall@k treats a hit at rank 1 and rank k the same; nDCG "
    "does not). Per-position gains round to 1e6-scaled BIGINTs "
    "first (integer-sum, order-free), the ideal DCG is a shared "
    "precomputed constant, and the final ratio is positive-domain "
    "integer division — hash-exact. Composes the two existing "
    "search plans plus one k-row-per-query join. Scale extension.",
)
def ann_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = C.ANN_TOP_K
    ideal = _ndcg_ideal_x1e6(k)
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < C.ANN_N_QUERIES)
    exact = similarity.cosine_topk(emb, q).select(
        "query_id", F.col("rank").alias("e_rank"), "neighbor_id"
    )
    approx = similarity.ann_lsh_topk(emb, q).select(
        F.col("query_id").alias("a_qid"),
        F.col("rank").alias("a_rank"),
        F.col("neighbor_id").alias("a_nid"),
    )
    contrib = exact.join(
        approx,
        (F.col("query_id") == F.col("a_qid"))
        & (F.col("neighbor_id") == F.col("a_nid")),
    ).select(
        "query_id",
        F.round(
            (k + 1 - F.col("e_rank")) / F.log2(F.col("a_rank") + 1) * 1_000_000
        )
        .cast("long")
        .alias("dg"),
    )
    dcg = contrib.groupBy("query_id").agg(F.sum("dg").alias("dcg_x1e6"))
    queries = exact.select("query_id").distinct()
    return (
        queries.join(dcg, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("dcg_x1e6"), F.lit(0))
            .cast("long")
            .alias("dcg_x1e6"),
            F.lit(ideal).cast("long").alias("idcg_x1e6"),
            F.expr(f"(coalesce(dcg_x1e6, 0) * 10000) DIV {ideal}")
            .cast("long")
            .alias("ndcg_x1e4"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q6 shape: forecasting-revenue-change — the canonical
# scan-dominated filter+agg (no join at all)
# ---------------------------------------------------------------------------


@_register(
    "sq_forecast_revenue",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(floor(l_extendedprice * l_discount * 100 + 0.5)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24.0
    """,
    doc="TPC-H Q6 shape (forecasting revenue change): the canonical "
    "scan-dominated filter+aggregate — year + discount-band + "
    "quantity predicates all push to the parquet scan (audited "
    "PushedFilters), zero joins, one map-side-combinable global "
    "agg. Per-row revenue folds as half-up integer cents so the sum "
    "is order-free and hash-exact. Relational extension.",
)
def sq_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24.0)
    )
    return f.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(
            F.floor(
                F.col("l_extendedprice") * F.col("l_discount") * 100 + 0.5
            ).cast("long")
        )
        .cast("long")
        .alias("revenue_cents"),
    )


# ---------------------------------------------------------------------------
# retention / vacuum plan over the per-key version history — the
# table-maintenance planner (keep-last-K policy)
# ---------------------------------------------------------------------------

VACUUM_KEEP_K = 2


@_register(
    "dv_vacuum_plan",
    f"""
    WITH v AS (
      SELECT user_id, length(props) AS sz,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_versions,
           CAST(sum(CASE WHEN rn <= {VACUUM_KEEP_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_keep,
           CAST(sum(CASE WHEN rn > {VACUUM_KEEP_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_vacuum,
           CAST(sum(CASE WHEN rn > {VACUUM_KEEP_K} THEN sz ELSE 0 END)
                AS BIGINT) AS vacuum_bytes
    FROM v GROUP BY 1
    """,
    doc="Retention/vacuum plan: per key, how many version rows a "
    "keep-last-K policy retains vs deletes and the payload bytes "
    "reclaimed — the maintenance planner that runs BEFORE a "
    "destructive vacuum on an SCD2/CDC table (dv_scd2_history, "
    "dv_cdc_apply operate on the same history). One keyed "
    "row_number window + one map-combinable groupBy; all-integer "
    "output. Versioning extension.",
)
def dv_vacuum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    v = ev.select(
        "user_id", F.length("props").alias("sz"), F.row_number().over(w).alias("rn")
    )
    k = VACUUM_KEEP_K
    return v.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_versions"),
        F.sum(F.when(F.col("rn") <= k, 1).otherwise(0))
        .cast("long")
        .alias("n_keep"),
        F.sum(F.when(F.col("rn") > k, 1).otherwise(0))
        .cast("long")
        .alias("n_vacuum"),
        F.sum(F.when(F.col("rn") > k, F.col("sz")).otherwise(0))
        .cast("long")
        .alias("vacuum_bytes"),
    )


# ===========================================================================
# batch 4c: embedding label-margin eval, dedup-aware effective
# mixture, Jensen-Shannon source divergence
# ===========================================================================

from .queries_scale import _DOT, _NORM  # noqa: E402
from .scale.similarity import _dot as _vdot  # noqa: E402
from .scale.similarity import _norm as _vnorm  # noqa: E402

# ---------------------------------------------------------------------------
# embedding-quality eval: same-label vs cross-label nearest margin
# ---------------------------------------------------------------------------


def _label_margin_sql() -> str:
    dot = _DOT.format(d=C.EMBEDDING_DIM, a="q.v", b="c.v")
    return f"""
    WITH base AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    normed AS (
      SELECT vec_id, label, v, {_NORM.format(v="v")} AS nrm FROM base
    ),
    q AS (SELECT * FROM normed WHERE vec_id < {C.ANN_N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, q.label AS ql, c.label AS cl,
             round({dot} / (q.nrm * c.nrm), 6) AS cosine
      FROM q JOIN normed c ON q.vec_id <> c.vec_id
    ),
    agg AS (
      SELECT query_id,
             max(CASE WHEN cl = ql THEN cosine END) AS best_same,
             max(CASE WHEN cl <> ql THEN cosine END) AS best_diff
      FROM scored GROUP BY 1
    )
    SELECT query_id,
           CAST(round(best_same * 1000000) AS BIGINT) AS best_same_x1e6,
           CAST(round(best_diff * 1000000) AS BIGINT) AS best_diff_x1e6,
           CAST(round(best_same * 1000000) - round(best_diff * 1000000)
                AS BIGINT) AS margin_x1e6
    FROM agg
    """


@_register(
    "emb_label_margin",
    _label_margin_sql(),
    doc="Embedding-quality eval: per query vector, the best same-"
    "label cosine vs the best cross-label cosine and their margin — "
    "the retrieval-separability check run before trusting an "
    "embedding column for clustering or near-dup (margin <= 0 means "
    "the nearest neighbor crosses the label boundary). max over "
    "1e-6-rounded cosines is order-independent; the margin ships as "
    "the difference of two scaled ints. Same bounded query-set "
    "broadcast as the ann_* audits. Embedding-column extension.",
)
def emb_label_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    normed = emb.select(
        "vec_id", "label", v.alias("v"), _vnorm(v).alias("nrm")
    )
    q = normed.filter(F.col("vec_id") < C.ANN_N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("ql"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = normed.join(
        F.broadcast(q), F.col("q_id") != F.col("vec_id")
    ).select(
        F.col("q_id").alias("query_id"),
        "ql",
        F.col("label").alias("cl"),
        F.round(
            _vdot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")), 6
        ).alias("cosine"),
    )
    agg = scored.groupBy("query_id").agg(
        F.max(F.when(F.col("cl") == F.col("ql"), F.col("cosine"))).alias(
            "best_same"
        ),
        F.max(F.when(F.col("cl") != F.col("ql"), F.col("cosine"))).alias(
            "best_diff"
        ),
    )
    bs = F.round(F.col("best_same") * 1_000_000)
    bd = F.round(F.col("best_diff") * 1_000_000)
    return agg.select(
        "query_id",
        bs.cast("long").alias("best_same_x1e6"),
        bd.cast("long").alias("best_diff_x1e6"),
        (bs - bd).cast("long").alias("margin_x1e6"),
    )


# ---------------------------------------------------------------------------
# dedup-aware effective mixture: per-source effective (soft-dedup)
# document mass — mixture planning on UNIQUE content, not raw rows
# ---------------------------------------------------------------------------


@_register(
    "tp_effective_mixture",
    r"""
    WITH k AS (
      SELECT doc_id, source,
             regexp_replace(lower(text), '\s+', ' ', 'g') AS ck
      FROM documents
    ),
    cs AS (SELECT ck, count(*) AS csize FROM k GROUP BY 1),
    d AS (
      SELECT k.source, 1000000 // cs.csize AS w
      FROM k JOIN cs ON cs.ck = k.ck
    ),
    s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(w) AS BIGINT) AS eff_docs_x1e6
      FROM d GROUP BY 1
    ),
    t AS (SELECT CAST(sum(eff_docs_x1e6) AS BIGINT) AS te FROM s)
    SELECT source, n_docs, eff_docs_x1e6,
           (eff_docs_x1e6 * 1000000) // te AS share_x1e6
    FROM s CROSS JOIN t
    """,
    doc="Dedup-aware effective mixture: each document weighs "
    "1/|exact-dup cluster| (the dd_soft_weights fold, cluster key = "
    "normalized text), so a source's sampling mass counts UNIQUE "
    "content rather than raw rows — copies spread across sources "
    "stop double-counting. Per-doc weights are exact integer "
    "division x1e6, summed as BIGINTs; shares are integer division "
    "over the integer total. One cluster-key shuffle + one source "
    "agg + a scalar broadcast. Training-data-prep extension.",
)
def tp_effective_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    k = docs.select(
        "doc_id",
        "source",
        F.regexp_replace(F.lower(F.col("text")), r"\s+", " ").alias("ck"),
    )
    cs = k.groupBy("ck").agg(F.count(F.lit(1)).alias("csize"))
    d = k.join(cs, "ck").select(
        "source", F.expr("1000000 DIV csize").alias("w")
    )
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w").cast("long").alias("eff_docs_x1e6"),
    )
    t = s.agg(F.sum("eff_docs_x1e6").cast("long").alias("te"))
    return s.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        "eff_docs_x1e6",
        F.expr("(eff_docs_x1e6 * 1000000) DIV te").alias("share_x1e6"),
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence between the term distributions of two
# deterministic corpus halves — the drift / split-consistency check
# ---------------------------------------------------------------------------


@_register(
    "tx_js_divergence",
    """
    WITH toks AS (
      SELECT doc_id % 2 AS half, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    c AS (
      SELECT tok,
             CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM toks WHERE tok <> '' GROUP BY 1
    ),
    t AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
      FROM c
    ),
    cell AS (
      SELECT CAST(round((
               CASE WHEN ca > 0 THEN
                 0.5 * (CAST(ca AS DOUBLE) / na)
                     * ln((CAST(ca AS DOUBLE) / na)
                          / (0.5 * (CAST(ca AS DOUBLE) / na
                                    + CAST(cb AS DOUBLE) / nb)))
               ELSE 0.0 END
               +
               CASE WHEN cb > 0 THEN
                 0.5 * (CAST(cb AS DOUBLE) / nb)
                     * ln((CAST(cb AS DOUBLE) / nb)
                          / (0.5 * (CAST(ca AS DOUBLE) / na
                                    + CAST(cb AS DOUBLE) / nb)))
               ELSE 0.0 END
             ) * 1000000000) AS BIGINT) AS jc
      FROM c CROSS JOIN t
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_terms,
           (SELECT na FROM t) AS na,
           (SELECT nb FROM t) AS nb,
           CAST(sum(jc) AS BIGINT) AS jsd_x1e9
    FROM cell
    """,
    doc="Jensen-Shannon divergence (nats) between the unigram term "
    "distributions of two deterministic corpus halves — the "
    "distribution-drift / split-consistency check run on train-vs-"
    "validation splits and between crawl snapshots (bounded, "
    "symmetric, defined for disjoint supports unlike KL). Per-term "
    "contributions are ONE shared double expression over exact "
    "integer counts, rounded to 1e9-scaled BIGINTs FIRST and "
    "integer-summed — order-free (ag_mutual_info discipline). One "
    "map-combinable term shuffle + a scalar totals broadcast. "
    "Text-analysis extension.",
)
def tx_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(F.split("text", " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    c = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("cb"),
    )
    c = c.localCheckpoint()  # consumed twice (cells + totals)
    t = c.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
    )
    pa = F.col("ca").cast("double") / F.col("na")
    pb = F.col("cb").cast("double") / F.col("nb")
    m = 0.5 * (pa + pb)
    contrib = (
        F.when(F.col("ca") > 0, 0.5 * pa * F.log(pa / m)).otherwise(0.0)
        + F.when(F.col("cb") > 0, 0.5 * pb * F.log(pb / m)).otherwise(0.0)
    )
    cell = c.crossJoin(F.broadcast(t)).select(
        F.round(contrib * 1_000_000_000).cast("long").alias("jc"),
        "na",
        "nb",
    )
    return cell.groupBy().agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.first("na").alias("na"),
        F.first("nb").alias("nb"),
        F.sum("jc").cast("long").alias("jsd_x1e9"),
    )


# ---------------------------------------------------------------------------
# multi-probe LSH ANN + recall-uplift audit — the recall rescue for
# single-probe sign-LSH (Lv et al., VLDB 2007)
# ---------------------------------------------------------------------------


def _lsh_bucket_bits_sql() -> str:
    """The SAME sign-LSH bucket expression _ann_lsh_sql embeds,
    rebuilt from the shared public constants (C.lsh_plane)."""
    bits = []
    for p in range(C.LSH_N_PLANES):
        plane = "[" + ", ".join(repr(x) for x in C.lsh_plane(p)) + "]::DOUBLE[]"
        dot = _DOT.format(d=C.EMBEDDING_DIM, a="v", b=f"({plane})")
        bits.append(f"(CASE WHEN round({dot}, 9) >= 0 THEN {2 ** p} ELSE 0 END)")
    return " + ".join(bits)


def _ann_multiprobe_sql() -> str:
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {2 ** p})" for p in range(C.LSH_N_PLANES)]
    )
    qdot = _DOT.format(d=C.EMBEDDING_DIM, a="q.q_v", b="c.v")
    return f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    normed AS (
      SELECT vec_id, v, {_NORM.format(v="v")} AS nrm,
             {_lsh_bucket_bits_sql()} AS bucket
      FROM base
    ),
    q AS (
      SELECT vec_id AS q_id, v AS q_v, nrm AS q_n,
             unnest([{probe_list}]) AS probe
      FROM normed WHERE vec_id < {C.ANN_N_QUERIES}
    ),
    scored AS (
      SELECT q.q_id AS query_id, c.vec_id AS neighbor_id,
             round({qdot} / (q.q_n * c.nrm), 6) AS cosine
      FROM q JOIN normed c ON c.bucket = q.probe AND q.q_id <> c.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
           CAST(round(cosine * 1000000) AS BIGINT) AS cosine_x1e6
    FROM ranked WHERE rank <= {C.ANN_TOP_K}
    """


@_register(
    "ann_multiprobe_topk",
    _ann_multiprobe_sql(),
    doc="Multi-probe sign-LSH ANN (Lv et al., VLDB 2007): each query "
    "probes its own bucket plus the 8 one-bit-flip neighbors, so a "
    "near neighbor that landed one hyperplane sign away is recovered "
    "WITHOUT re-hashing or duplicating the corpus index — the "
    "standard recall/cost dial between ann_lsh_bucketed (1 probe) "
    "and ann_bruteforce_topk. Candidate cost is 9 bucket probes per "
    "query; the corpus-side bucket column and layout are unchanged. "
    "Cosines ship as 1e6-scaled ints. Scale extension.",
)
def ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    r = similarity.ann_multiprobe_topk(
        emb, emb.filter(F.col("vec_id") < C.ANN_N_QUERIES)
    )
    return r.select(
        "query_id",
        "rank",
        "neighbor_id",
        F.round(F.col("cosine") * 1_000_000).cast("long").alias("cosine_x1e6"),
    )


def _multiprobe_recall_sql() -> str:
    from .queries_scale import _ann_bruteforce_sql, _ann_lsh_sql

    k = C.ANN_TOP_K
    return f"""
    WITH exact_r AS ({_ann_bruteforce_sql()}),
    lsh_r AS ({_ann_lsh_sql()}),
    mp_r AS ({_ann_multiprobe_sql()})
    SELECT e.query_id,
           CAST(count(l.neighbor_id) AS BIGINT) AS n_single,
           CAST(count(m.neighbor_id) AS BIGINT) AS n_multi,
           CAST(count(l.neighbor_id) * 10000 // {k} AS BIGINT)
             AS recall_single_x1e4,
           CAST(count(m.neighbor_id) * 10000 // {k} AS BIGINT)
             AS recall_multi_x1e4
    FROM exact_r e
    LEFT JOIN lsh_r l
      ON e.query_id = l.query_id AND e.neighbor_id = l.neighbor_id
    LEFT JOIN mp_r m
      ON e.query_id = m.query_id AND e.neighbor_id = m.neighbor_id
    GROUP BY e.query_id
    """


@_register(
    "ann_multiprobe_recall",
    _multiprobe_recall_sql,  # lazy: sibling-submodule helper import
    doc="Recall-uplift audit: per query, recall@k of single-probe "
    "LSH vs multi-probe LSH against the brute-force ground truth in "
    "one row — the measurement that justifies the 9x probe cost "
    "before turning multi-probe on in production. Multi-probe recall "
    "is a superset-by-construction of single-probe (same buckets + 8 "
    "more), so recall_multi >= recall_single row by row (pytest-"
    "pinned). All-integer output. Scale extension.",
)
def ann_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = C.ANN_TOP_K
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < C.ANN_N_QUERIES)
    exact = similarity.cosine_topk(emb, q).select("query_id", "neighbor_id")
    single = similarity.ann_lsh_topk(emb, q).select(
        F.col("query_id").alias("l_qid"), F.col("neighbor_id").alias("l_nid")
    )
    multi = similarity.ann_multiprobe_topk(emb, q).select(
        F.col("query_id").alias("m_qid"), F.col("neighbor_id").alias("m_nid")
    )
    j = (
        exact.join(
            single,
            (F.col("query_id") == F.col("l_qid"))
            & (F.col("neighbor_id") == F.col("l_nid")),
            "left",
        )
        .join(
            multi,
            (F.col("query_id") == F.col("m_qid"))
            & (F.col("neighbor_id") == F.col("m_nid")),
            "left",
        )
    )
    return j.groupBy("query_id").agg(
        F.count("l_nid").alias("n_single"),
        F.count("m_nid").alias("n_multi"),
        F.expr(f"count(l_nid) * 10000 DIV {k}")
        .cast("long")
        .alias("recall_single_x1e4"),
        F.expr(f"count(m_nid) * 10000 DIV {k}")
        .cast("long")
        .alias("recall_multi_x1e4"),
    )


# ---------------------------------------------------------------------------
# event-lateness profile — the measurement behind choosing a
# Structured Streaming watermark delay
# ---------------------------------------------------------------------------

LATE_BUCKET_CAP = 10  # minutes; everything later pools in the top bucket


@_register(
    "ts_lateness_profile",
    f"""
    WITH e AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS es
      FROM events
    ),
    r AS (
      SELECT es, max(es) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rm
      FROM e
    ),
    l AS (
      SELECT CASE WHEN rm - es < 0 THEN 0 ELSE rm - es END AS late FROM r
    )
    SELECT least(late // 60, {LATE_BUCKET_CAP}) AS late_bucket_min,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(late) AS BIGINT) AS max_late_s
    FROM l GROUP BY 1
    """,
    doc="Event-lateness profile: per key, how far each event's time "
    "lags the maximum event time already seen in arrival order "
    "(event_id = the replayer's arrival sequence, TESTDATA.md) — "
    "bucketed into minutes. This is THE measurement behind choosing "
    "a `withWatermark` delay: the bucket histogram shows what "
    "fraction of events a given delay would drop, before any "
    "streaming job runs (the engine's watermark eviction is tested "
    "in streaming/stateful). Keyed running max (shardable, unlike a "
    "global arrival order) + one map-combinable groupBy; epoch "
    "seconds keep everything integer. Temporal extension.",
)
def ts_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    e = ev.select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("es")
    )
    r = e.select("es", F.max("es").over(w).alias("rm"))
    late = F.when(F.col("rm") - F.col("es") < 0, 0).otherwise(
        F.col("rm") - F.col("es")
    )
    l_df = r.select(late.alias("late"))
    return l_df.groupBy(
        F.least(F.expr("late DIV 60"), F.lit(LATE_BUCKET_CAP))
        .cast("long")
        .alias("late_bucket_min")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("late").cast("long").alias("max_late_s"),
    )


# ---------------------------------------------------------------------------
# dedup threshold sweep — the pair-count curve that picks the
# near-dup Jaccard cutoff before a destructive dedup run
# ---------------------------------------------------------------------------

DD_SWEEP_THRESHOLDS = [3000, 4000, 5000, 6000, 7000, 8000, 9000]  # x1e4


def _dd_sweep_sql() -> str:
    from .queries_scale import _minhash_sql

    tlist = ", ".join(str(t) for t in DD_SWEEP_THRESHOLDS)
    return f"""
    WITH pairs AS ({_minhash_sql(0.0)}),
    t AS (SELECT unnest([{tlist}]) AS thr_x1e4)
    SELECT t.thr_x1e4, CAST(count(p.doc_a) AS BIGINT) AS n_pairs
    FROM t LEFT JOIN pairs p
      ON CAST(round(p.jaccard * 10000) AS BIGINT) >= t.thr_x1e4
    GROUP BY 1
    """


@_register(
    "dd_threshold_sweep",
    _dd_sweep_sql,  # lazy: sibling-submodule helper import
    doc="Dedup threshold sweep: cumulative LSH-candidate pair counts "
    "at each near-dup Jaccard cutoff (0.30..0.90) in ONE confirm "
    "pass — the tuning curve read before choosing the destructive "
    "dedup threshold (how many pairs a stricter/looser cutoff "
    "gains). Exact Jaccards come from the shared array-intersect "
    "confirm kernel un-thresholded; the 7-row threshold frame joins "
    "on an inequality (bounded 7 x |candidates|). All-integer "
    "output (jaccard is round-4 so x1e4 is exact). Scale extension "
    "(training-data dedup).",
)
def dd_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scale import constants as CC
    from .scale.dedup import minhash_lsh_dedup

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_dedup(docs, threshold=0.0).select(
        "doc_a", F.round(F.col("jaccard") * 10_000).cast("long").alias("jx")
    )
    t = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(x) for x in DD_SWEEP_THRESHOLDS])
        ).alias("thr_x1e4")
    )
    j = t.join(pairs, F.col("jx") >= F.col("thr_x1e4"), "left")
    return j.groupBy("thr_x1e4").agg(
        F.count("doc_a").alias("n_pairs")
    )


# ---------------------------------------------------------------------------
# IVF probe sweep — recall@k at n_probe=1 vs n_probe=3 from ONE
# scored pass (probe sets are nested), against brute-force truth
# ---------------------------------------------------------------------------


def _ivf_sweep_sql() -> str:
    from .queries_scale import _ann_bruteforce_sql

    d = C.EMBEDDING_DIM
    k = C.ANN_TOP_K
    mean_list = ", ".join(f"round(avg(n.v[{i + 1}]), 9)" for i in range(d))
    sdot = _DOT.format(d=d, a="n.v", b="s.cv")
    cdot = _DOT.format(d=d, a="n.v", b="c.cv")
    pdot = _DOT.format(d=d, a="q.v", b="c.cv")
    qdot = _DOT.format(d=d, a="p.qv", b="c.v")
    return f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    normed AS (SELECT vec_id, v, {_NORM.format(v="v")} AS nrm FROM base),
    seeds AS (
      SELECT vec_id AS cid, v AS cv, nrm AS cn FROM normed
      WHERE vec_id % {C.IVF_SEED_STRIDE} = 0 ORDER BY vec_id LIMIT {C.IVF_N_LISTS}
    ),
    s_scored AS (
      SELECT n.vec_id, s.cid, round({sdot} / (n.nrm * s.cn), 6) AS sim
      FROM normed n CROSS JOIN seeds s
    ),
    s_best AS (SELECT vec_id, max(sim) AS best FROM s_scored GROUP BY vec_id),
    s_assign AS (
      SELECT sc.vec_id, min(sc.cid) AS cid
      FROM s_scored sc JOIN s_best b ON sc.vec_id = b.vec_id AND sc.sim = b.best
      GROUP BY sc.vec_id
    ),
    cents AS (
      SELECT a.cid, [{mean_list}]::DOUBLE[] AS cv
      FROM s_assign a JOIN normed n USING (vec_id) GROUP BY a.cid
    ),
    cents_n AS (SELECT cid, cv, {_NORM.format(v="cv")} AS cn FROM cents),
    c_scored AS (
      SELECT n.vec_id, c.cid, round({cdot} / (n.nrm * c.cn), 6) AS sim
      FROM normed n CROSS JOIN cents_n c
    ),
    c_best AS (SELECT vec_id, max(sim) AS best FROM c_scored GROUP BY vec_id),
    c_assign AS (
      SELECT sc.vec_id, min(sc.cid) AS cid
      FROM c_scored sc JOIN c_best b ON sc.vec_id = b.vec_id AND sc.sim = b.best
      GROUP BY sc.vec_id
    ),
    corpus AS (
      SELECT n.vec_id, n.v, n.nrm, a.cid FROM normed n JOIN c_assign a USING (vec_id)
    ),
    q AS (SELECT * FROM normed WHERE vec_id < {C.ANN_N_QUERIES}),
    q_probe AS (
      SELECT q_id, qv, qn, cid, pr FROM (
        SELECT q.vec_id AS q_id, q.v AS qv, q.nrm AS qn, c.cid,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round({pdot} / (q.nrm * c.cn), 6) DESC, c.cid ASC) AS pr
        FROM q CROSS JOIN cents_n c)
      WHERE pr <= {C.IVF_N_PROBE}
    ),
    scored AS (
      SELECT p.q_id AS query_id, c.vec_id AS neighbor_id, p.pr,
             round({qdot} / (p.qn * c.nrm), 6) AS cosine
      FROM corpus c JOIN q_probe p ON c.cid = p.cid AND p.q_id <> c.vec_id
    ),
    r1 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM scored WHERE pr <= 1)
      WHERE rank <= {k}
    ),
    r3 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM scored)
      WHERE rank <= {k}
    ),
    exact_r AS ({_ann_bruteforce_sql()})
    SELECT e.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_probe1,
           CAST(count(b.neighbor_id) AS BIGINT) AS n_probe3,
           CAST(count(a.neighbor_id) * 10000 // {k} AS BIGINT)
             AS recall_probe1_x1e4,
           CAST(count(b.neighbor_id) * 10000 // {k} AS BIGINT)
             AS recall_probe3_x1e4
    FROM exact_r e
    LEFT JOIN r1 a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    LEFT JOIN r3 b ON e.query_id = b.query_id AND e.neighbor_id = b.neighbor_id
    GROUP BY e.query_id
    """


@_register(
    "ann_ivf_probe_sweep",
    _ivf_sweep_sql,  # lazy: sibling-submodule helper import
    doc="IVF probe sweep: recall@k at n_probe=1 vs n_probe=3 against "
    "the brute-force ground truth, per query, from ONE scored pass — "
    "probe sets are nested, so the probe-1 top-k is a re-rank of the "
    "probe-1 slice of the same candidate frame (no second corpus "
    "scan). Completes the ANN audit triad (LSH single-probe, LSH "
    "multi-probe, IVF probe count): the three dials a deployment "
    "tunes against the same exact baseline. All-integer output. "
    "Scale extension.",
)
def ann_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scale.similarity import (
        _nearest_centroid,
        _normed,
        cosine_topk,
        ivf_centroids,
    )

    k = C.ANN_TOP_K
    emb = _t(spark, sf_dir, "embeddings")
    cents = ivf_centroids(emb)
    c = _normed(emb, "embedding", "vec_id", "c_")
    cell_of = _nearest_centroid(c, cents)
    c = c.join(cell_of, "c_id")

    q_src = emb.filter(F.col("vec_id") < C.ANN_N_QUERIES)
    q = _normed(q_src, "embedding", "vec_id", "q_")
    qsim = F.round(
        _vdot(F.col("q_v"), F.col("cent_v")) / (F.col("q_n") * F.col("cent_n")),
        6,
    )
    qw = Window.partitionBy("q_id").orderBy(F.desc("_qsim"), F.asc("cid"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select("q_id", "q_v", "q_n", "cid", qsim.alias("_qsim"))
        .withColumn("pr", F.row_number().over(qw))
        .filter(F.col("pr") <= C.IVF_N_PROBE)
        .select("q_id", "q_v", "q_n", "cid", "pr")
    )
    sim = F.round(
        _vdot(F.col("q_v"), F.col("c_v")) / (F.col("q_n") * F.col("c_n")), 6
    )
    scored = (
        c.join(F.broadcast(probes), "cid")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            "pr",
            sim.alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    r1 = (
        scored.filter(F.col("pr") <= 1)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("query_id").alias("a_qid"), F.col("neighbor_id").alias("a_nid")
        )
    )
    r3 = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("query_id").alias("b_qid"), F.col("neighbor_id").alias("b_nid")
        )
    )
    exact = cosine_topk(emb, q_src).select("query_id", "neighbor_id")
    j = (
        exact.join(
            r1,
            (F.col("query_id") == F.col("a_qid"))
            & (F.col("neighbor_id") == F.col("a_nid")),
            "left",
        )
        .join(
            r3,
            (F.col("query_id") == F.col("b_qid"))
            & (F.col("neighbor_id") == F.col("b_nid")),
            "left",
        )
    )
    return j.groupBy("query_id").agg(
        F.count("a_nid").alias("n_probe1"),
        F.count("b_nid").alias("n_probe3"),
        F.expr(f"count(a_nid) * 10000 DIV {k}")
        .cast("long")
        .alias("recall_probe1_x1e4"),
        F.expr(f"count(b_nid) * 10000 DIV {k}")
        .cast("long")
        .alias("recall_probe3_x1e4"),
    )


# ---------------------------------------------------------------------------
# cross-source duplication matrix — which sources copy from which
# (crawl-provenance audit over the exact-dup clusters)
# ---------------------------------------------------------------------------


@_register(
    "dd_source_overlap",
    r"""
    WITH k AS (
      SELECT doc_id, source,
             regexp_replace(lower(text), '\s+', ' ', 'g') AS ck
      FROM documents
    ),
    p AS (
      SELECT least(a.source, b.source) AS source_a,
             greatest(a.source, b.source) AS source_b,
             count(*) AS n_pairs
      FROM k a JOIN k b ON a.ck = b.ck AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, CAST(n_pairs AS BIGINT) AS n_pairs
    FROM p
    """,
    doc="Cross-source duplication matrix: for every exact-duplicate "
    "pair (normalized-text key, the dd_exact cluster), one count per "
    "unordered source pair — the crawl-provenance audit that shows "
    "which sources mirror which (diagonal = within-source reposts, "
    "off-diagonal = cross-crawl copying), read before assigning "
    "per-source mixture weights (tp_effective_mixture). The "
    "self-join keys on the cluster hash, so pair fan-out is bounded "
    "by per-cluster sizes (the skew watch is identical to dd_exact). "
    "All-integer counts. Scale extension (training-data dedup).",
)
def dd_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    k = docs.select(
        "doc_id",
        "source",
        F.regexp_replace(F.lower(F.col("text")), r"\s+", " ").alias("ck"),
    )
    a = k.select(
        F.col("ck").alias("ck_a"),
        F.col("doc_id").alias("id_a"),
        F.col("source").alias("src_a"),
    )
    b = k.select(
        F.col("ck").alias("ck_b"),
        F.col("doc_id").alias("id_b"),
        F.col("source").alias("src_b"),
    )
    pairs = a.join(
        b, (F.col("ck_a") == F.col("ck_b")) & (F.col("id_a") < F.col("id_b"))
    )
    return pairs.groupBy(
        F.least("src_a", "src_b").alias("source_a"),
        F.greatest("src_a", "src_b").alias("source_b"),
    ).agg(F.count(F.lit(1)).alias("n_pairs"))


# ---------------------------------------------------------------------------
# Fano factor of event arrivals — traffic burstiness per event type
# (the temporal sibling of tx_burstiness's per-term dispersion)
# ---------------------------------------------------------------------------


@_register(
    "ts_fano_factor",
    """
    WITH hours AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT CAST(count(DISTINCT date_trunc('hour', ts)) AS BIGINT) AS nh
      FROM events
    ),
    st AS (
      SELECT event_type,
             CAST(sum(c) AS BIGINT) AS s1,
             CAST(sum(c * c) AS BIGINT) AS s2
      FROM hours GROUP BY 1
    )
    SELECT event_type, s1 AS n_events, span.nh AS n_hours,
           (s1 * 10000) // span.nh AS rate_x1e4,
           ((span.nh * s2 - s1 * s1) * 10000) // (span.nh * s1)
             AS fano_x1e4
    FROM st CROSS JOIN span
    """,
    doc="Fano factor of hourly event arrivals per type: variance-to-"
    "mean of the hourly count series over the OBSERVED hour span "
    "(zero hours included via the exact integer moments "
    "N*sum(c^2)-S1^2 — no per-hour zero rows materialize). Fano ~ 1 "
    "is Poisson traffic; >> 1 flags bursty/bot-like arrival "
    "clumping, the temporal sibling of tx_burstiness's per-term "
    "dispersion and the capacity-planning input for streaming "
    "ingestion. One map-combinable (type, hour) agg + a scalar span "
    "broadcast; all-integer positive-domain division. Temporal "
    "extension.",
)
def ts_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hours = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    span = ev.agg(
        F.countDistinct(F.date_trunc("hour", "ts")).alias("nh")
    )
    st = hours.groupBy("event_type").agg(
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    return st.crossJoin(F.broadcast(span)).select(
        "event_type",
        F.col("s1").alias("n_events"),
        F.col("nh").alias("n_hours"),
        F.expr("(s1 * 10000) DIV nh").alias("rate_x1e4"),
        F.expr("((nh * s2 - s1 * s1) * 10000) DIV (nh * s1)").alias(
            "fano_x1e4"
        ),
    )
