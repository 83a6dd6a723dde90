"""Location scoring kernels (SURVEY.md §2.9).

M1 — the reference's location predictor scores each 5-message batch
against every region of a geographic topic model (TopicModelBolt.java
:87-99,168; bytecode jgibblda.PredictLocation#predict; von-Mises-
Fisher region densities per Kling et al., WSDM 2014) and publishes
the top 5. The reference samples with an unseeded Gibbs chain; this
engine scores the deterministic collapsed estimate (expected topic
mixture x region density) instead, so the same inputs always give the
same output. Batching never changes a document's score, so the
5-message buffer (W2) is not part of the scorer.

One scorer, one oracle:

* :func:`predict_locations` — the NumPy scorer: the model matrices
  are broadcast and each Arrow batch is scored in one ``mapInPandas``
  call (segment-summed log-likelihoods, one GEMM, top-k). Used by the
  location pipeline and by ``m1_predict_locations``.
* :func:`predict_regions_fixedpoint` / :func:`predict_regions_fixedpoint_sql`
  — the same estimate restructured so Spark and DuckDB execute
  bit-identical arithmetic; carries ``m1_region_topk``'s oracle.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class LocationModel:
    """Model bundle (matrices the reference loads from files, S12:
    topic_word [K x V], pi_0 [K], region_topic [L x K], regions [L x 2
    lat/long])."""

    topic_word: np.ndarray
    pi_0: np.ndarray
    region_topic: np.ndarray
    regions: np.ndarray

    @classmethod
    def deterministic(cls, n_topics: int = 8, vocab: int = 512, n_regions: int = 16, seed: int = 42):
        """Seeded synthetic model for tests/benchmarks (the real
        model files are downloaded artifacts, S8 — not in repo)."""
        rng = np.random.default_rng(seed)
        tw = rng.dirichlet(np.ones(vocab), size=n_topics)
        pi = rng.dirichlet(np.ones(n_topics))
        rt = rng.dirichlet(np.ones(n_topics), size=n_regions)
        regions = np.stack(
            [rng.uniform(-60, 60, n_regions), rng.uniform(-180, 180, n_regions)], axis=1
        )
        return cls(tw, pi, rt, regions)


def predict_locations(
    docs: DataFrame,
    model: LocationModel,
    doc_col: str = "doc_id",
    token_ids_col: str = "token_ids",
    top_k: int = 5,
) -> DataFrame:
    """M1 + T1 — score each doc against every region and emit its
    top-k (location, probability) pairs with the reference's "lon,lat"
    float key (P10).

    ``token_ids`` is a space-separated id string (X5 output / E4); an
    empty doc scores with the topic prior alone. ``doc_col`` passes
    through with its input type. One Python call per Arrow batch,
    fully vectorized: segment-summed log-likelihoods give each doc's
    topic mixture and one GEMM gives every region score.
    """
    spark = docs.sparkSession
    bc = spark.sparkContext.broadcast(
        (model.topic_word, model.pi_0, model.region_topic, model.regions)
    )
    doc_type = docs.schema[doc_col].dataType.simpleString()

    def score(batches):
        import pandas as pd

        tw, pi, rt, regions = bc.value
        vocab = tw.shape[1]
        log_tw = np.log(tw + 1e-12)  # K x V
        log_pi = np.log(pi)
        for pdf in batches:
            if pdf.empty:
                continue
            ids_per_doc = [
                np.array(
                    [int(t) % vocab for t in str(s).split() if t.strip()], dtype=np.int64
                )
                for s in pdf[token_ids_col]
            ]
            lens = np.array([len(a) for a in ids_per_doc])
            D = len(ids_per_doc)
            flat = np.concatenate([a for a in ids_per_doc if len(a)]) if lens.sum() else np.array([], dtype=np.int64)
            ptr = np.zeros(D + 1, dtype=np.int64)
            np.cumsum(lens, out=ptr[1:])
            # log theta (pre-normalization): K x D
            lt = np.tile(log_pi[:, None], (1, D))
            if len(flat):
                seg = np.add.reduceat(log_tw[:, flat], ptr[:-1][lens > 0], axis=1)
                lt[:, lens > 0] += seg / lens[lens > 0]
            theta = np.exp(lt - lt.max(axis=0, keepdims=True))
            theta /= theta.sum(axis=0, keepdims=True)
            region_scores = rt @ theta  # L x D
            region_probs = region_scores / region_scores.sum(axis=0, keepdims=True)
            top = np.argsort(-region_probs, axis=0)[:top_k]  # k x D
            k = top.shape[0]  # top_k, or L when the model has fewer regions
            out_doc = np.repeat(pdf[doc_col].to_numpy(), k)
            flat_top = top.T.ravel()
            probs = region_probs[flat_top, np.repeat(np.arange(D), k)]
            lat = regions[flat_top, 0].astype(np.float32)
            lon = regions[flat_top, 1].astype(np.float32)
            yield pd.DataFrame(
                {
                    doc_col: out_doc,
                    "location": [f"{x},{y}" for x, y in zip(lon, lat)],
                    "probability": probs.astype(np.float64),
                }
            )

    return docs.select(doc_col, token_ids_col).mapInPandas(
        score, schema=f"{doc_col} {doc_type}, location string, probability double"
    )


# ---------------------------------------------------------------------------
# M1 fixed-point variant (oracle-checkable hard signal; VERDICT r3 #2)
# ---------------------------------------------------------------------------
#
# The collapsed scorer above is numpy-vectorized (reduceat segment
# sums, one GEMM) — its float folds follow BLAS order, which no SQL
# engine replays bit-for-bit, so m1_predict_locations is a rows-only
# gate.  This variant restructures the SAME collapsed estimate
# (per-doc mean token log-likelihood per topic -> softmax topic
# mixture -> region mixing -> top-k regions) so that every
# floating-point operation is bit-identical across Spark and DuckDB
# (ORACLE_DISCIPLINE.md rules 2/3/6):
#
# * model log-probs are pre-quantized to BIGINT (1e9 for log tw / log
#   pi, 1e6 for the region-topic rows) and embedded as literal arrays
#   in BOTH engines' expressions — per-doc topic scores are exact
#   integer folds over the token-id array (zero shuffle, scan-stage);
# * token ids come from the char-fold hash (rule 9) — a pure
#   expression both engines compute identically;
# * the softmax/mixing stage is a fixed left-associated chain of
#   EXACTLY-ROUNDED IEEE ops only — the transcendental exp is
#   replaced by the deterministic 2^k * Horner(r) construction
#   (_exp_poly_sql; ADVICE r4: JVM Math.exp and libm exp differ by
#   1 ulp on ~10% of arguments, so a raw exp() call would NOT be
#   bit-identical) — so every double IS bit-identical by
#   construction;
# * the output probability ships as a half-up scaled BIGINT computed
#   from those bit-identical doubles (rule 4b).
#
# Reference semantics: TopicModelBolt.java:87-99,168 (score docs
# against every region, emit top-5 'lon,lat' keys); the region ids
# here index LocationModel.regions.

M1Q_TOPICS = 8
M1Q_VOCAB = 256
M1Q_REGIONS = 16
M1Q_SEED = 42
M1Q_TOP_K = 5
M1Q_LOG_SCALE = 10**9
M1Q_RT_SCALE = 10**6


def quantized_model(
    n_topics: int = M1Q_TOPICS,
    vocab: int = M1Q_VOCAB,
    n_regions: int = M1Q_REGIONS,
    seed: int = M1Q_SEED,
) -> tuple[list[list[int]], list[int], list[list[int]]]:
    """Integer-quantized deterministic model: (log_tw_q [K][V] at
    1e9, log_pi_q [K] at 1e9, rt_q [L][K] at 1e6).  Same generator
    family as :meth:`LocationModel.deterministic`; quantization is
    half-up via floor(x*s + 0.5) so the constants are reproducible
    without relying on Python banker's rounding."""
    rng = np.random.default_rng(seed)
    tw = rng.dirichlet(np.ones(vocab), size=n_topics)
    pi = rng.dirichlet(np.ones(n_topics))
    rt = rng.dirichlet(np.ones(n_topics), size=n_regions)

    def q(x: float, s: int) -> int:
        return int(math.floor(x * s + 0.5))

    log_tw_q = [
        [q(math.log(tw[k, v] + 1e-12), M1Q_LOG_SCALE) for v in range(vocab)]
        for k in range(n_topics)
    ]
    log_pi_q = [q(math.log(pi[k]), M1Q_LOG_SCALE) for k in range(n_topics)]
    rt_q = [
        [q(rt[l, k], M1Q_RT_SCALE) for k in range(n_topics)]
        for l in range(n_regions)
    ]
    return log_tw_q, log_pi_q, rt_q


# -- deterministic exp (ADVICE r4 medium): JVM Math.exp and libm exp
# are NOT correctly-rounded and empirically differ by 1 ulp on ~10%
# of arguments — a scale-growing boundary-flip risk on a hashed,
# driver-pinned entry.  exp(x) is therefore rebuilt from EXACTLY-
# ROUNDED IEEE primitives only: k = round(x/ln2), r = x - k*ln2
# (|r| <= 0.347), degree-13 Taylor Horner in r (truncation ~4e-18),
# times the exact power-of-two 2^k.  mul/add/floor/power-of-two are
# all correctly rounded per IEEE-754, so Spark, DuckDB, and CPython
# produce bit-identical doubles; the transcendental is gone from the
# hashed path entirely.
_EXP_LN2 = "0.6931471805599453"
_EXP_INVLN2 = "1.4426950408889634"


def _exp_poly_sql(r: str, k: str) -> str:
    """``P(r) * 2^k`` with the Horner polynomial inlined (dialect-
    neutral: floor/power/arithmetic parse identically in Spark SQL
    and DuckDB)."""
    coeffs = [1.0 / math.factorial(i) for i in range(14)]
    poly = repr(coeffs[13])
    for c in reversed(coeffs[:13]):
        poly = f"({poly} * {r} + {repr(c)})"
    return f"{poly} * power(2.0, {k})"


def det_exp_stages(a: str, prefix: str = "x") -> list:
    """Staged (name, sql) pairs computing the deterministic exp of
    column ``a``: {prefix}k (power-of-two index), {prefix}r (Horner
    residual), {prefix}e (the result).  Dialect-neutral SQL."""
    return [
        (f"{prefix}k", f"floor({a} * {_EXP_INVLN2} + 0.5)"),
        (f"{prefix}r", f"{a} - {prefix}k * {_EXP_LN2}"),
        (f"{prefix}e", _exp_poly_sql(f"{prefix}r", f"{prefix}k")),
    ]


_LN_SQRT2 = "1.4142135623730951"
_LN_LADDER_HI, _LN_LADDER_LO = 40, -10


def det_ln_stages(x: str, prefix: str = "l") -> list:
    """Staged (name, sql) pairs computing a DETERMINISTIC ln(x) for
    positive ``x`` from exactly-rounded IEEE ops only (rule 17 — libm
    vs JVM log differ by ulps): k = floor(log2 x) via a power-of-two
    comparison ladder (exact literals, no log anywhere), m = x/2^k
    reduced into [sqrt2/2, sqrt2), then ln m = 2*atanh(t) with
    t = (m-1)/(m+1), |t| <= 0.1716, as a 12-term Horner in t^2
    (truncation ~1e-18); ln x = 2*t*P(t^2) + k*ln2.  Every op is a
    correctly-rounded mul/add/div/floor/power-of-two, so Spark,
    DuckDB, and CPython agree bitwise.  Accuracy degrades (but stays
    deterministic) below 2^-10."""
    ladder = (
        "CASE "
        + " ".join(
            f"WHEN {x} >= {repr(2.0 ** k)} THEN {k}"
            for k in range(_LN_LADDER_HI, _LN_LADDER_LO, -1)
        )
        + f" ELSE {_LN_LADDER_LO} END"
    )
    coeffs = [1.0 / (2 * i + 1) for i in range(12)]
    poly = repr(coeffs[11])
    for c in reversed(coeffs[:11]):
        poly = f"({poly} * {prefix}u + {repr(c)})"
    return [
        (f"{prefix}k", ladder),
        (f"{prefix}m", f"{x} / power(2.0, {prefix}k)"),
        (
            f"{prefix}k2",
            f"CASE WHEN {prefix}m > {_LN_SQRT2} THEN {prefix}k + 1"
            f" ELSE {prefix}k END",
        ),
        (
            f"{prefix}m2",
            f"CASE WHEN {prefix}m > {_LN_SQRT2} THEN {prefix}m / 2.0"
            f" ELSE {prefix}m END",
        ),
        (f"{prefix}t", f"({prefix}m2 - 1.0) / ({prefix}m2 + 1.0)"),
        (f"{prefix}u", f"{prefix}t * {prefix}t"),
        (
            f"{prefix}ln",
            f"2.0 * {prefix}t * {poly} + {prefix}k2 * {_EXP_LN2}",
        ),
    ]


def det_ln_py(x: float) -> float:
    """CPython replica of :func:`det_ln_stages` (same ops, order)."""
    k = _LN_LADDER_LO
    for kk in range(_LN_LADDER_HI, _LN_LADDER_LO, -1):
        if x >= 2.0 ** kk:
            k = kk
            break
    m = x / (2.0 ** k)
    if m > 1.4142135623730951:
        k, m = k + 1, m / 2.0
    t = (m - 1.0) / (m + 1.0)
    u = t * t
    coeffs = [1.0 / (2 * i + 1) for i in range(12)]
    p = coeffs[11]
    for c in reversed(coeffs[:11]):
        p = p * u + c
    return 2.0 * t * p + k * 0.6931471805599453


def det_exp_py(x: float) -> float:
    """CPython replica of the deterministic exp — for pure-Python
    property-test references (same ops, same order, same doubles)."""
    coeffs = [1.0 / math.factorial(i) for i in range(14)]
    k = math.floor(x * 1.4426950408889634 + 0.5)
    r = x - k * 0.6931471805599453
    p = coeffs[13]
    for c in reversed(coeffs[:13]):
        p = p * r + c
    return p * (2.0 ** k)


def _m1q_scalar_exprs(engine: str) -> dict[str, str]:
    """Shared expression fragments for the fixed-point scorer, in
    Spark-SQL or DuckDB dialect.  Returns {name: sql} defining, from
    a ``text`` column: tids, n_tok, per-topic integer scores s0..s7,
    softmax e0..e7 / ssum, region probabilities p0..p15.  Both
    dialects execute the identical arithmetic in the identical
    order."""
    from ..scale import constants as C

    log_tw_q, log_pi_q, rt_q = quantized_model()
    K, L, V = M1Q_TOPICS, M1Q_REGIONS, M1Q_VOCAB
    spark = engine == "spark"

    def lit_arr(vals):
        body = ", ".join(str(v) for v in vals)
        return f"array({body})" if spark else f"[{body}]"

    def fold(arr, init, lam_args, lam_body):
        if spark:
            return f"aggregate({arr}, {init}, ({lam_args}) -> {lam_body})"
        return (
            f"list_reduce(list_prepend({init}, {arr}),"
            f" ({lam_args}) -> {lam_body})"
        )

    if spark:
        charfold = (
            "aggregate(transform(sequence(1, length(t)),"
            " i -> ascii(substring(t, i, 1))), 0L,"
            f" (a, c) -> (a * {C.FP_MULT} + c) % {C.SHINGLE_P})"
        )
        toks = "filter(split(text, ' '), t -> length(t) > 1)"
        tids = f"transform({toks}, t -> CAST({charfold} % {V} AS INT))"
        init0 = "0L"
        n_tok = "size(tids)"
        at = lambda arr, idx: f"element_at({arr}, {idx})"
    else:
        charfold = (
            "list_reduce(list_prepend(0::BIGINT,"
            " list_transform(range(1, length(t) + 1),"
            " i -> ord(t[i]))),"
            f" (a, c) -> (a * {C.FP_MULT} + c) % {C.SHINGLE_P})"
        )
        toks = "list_filter(string_split(text, ' '), t -> length(t) > 1)"
        tids = (
            f"list_transform({toks},"
            f" t -> CAST({charfold} % {V} AS INTEGER))"
        )
        init0 = "0::BIGINT"
        n_tok = "len(tids)"
        at = lambda arr, idx: f"{arr}[{idx}]"

    out: dict[str, str] = {"tids": tids, "n_tok": n_tok}
    for k in range(K):
        arr = lit_arr(log_tw_q[k])
        out[f"s{k}"] = fold("tids", init0, "a, t", f"a + {at(arr, 't + 1')}")
    for k in range(K):
        out[f"lt{k}"] = f"{log_pi_q[k]} * CAST(n_tok AS BIGINT) + s{k}"
    out["ltmax"] = "greatest(" + ", ".join(f"lt{k}" for k in range(K)) + ")"
    # softmax exponentials via the deterministic exp (no libm/JVM
    # exp in the hashed path — see _exp_poly_sql above): staged as
    # named columns a{k} (argument), xk{k} (power-of-two index),
    # xr{k} (Horner residual) so the polynomial references a column,
    # not a re-expanded subtree.
    for k in range(K):
        out[f"a{k}"] = (
            f"CAST(lt{k} - ltmax AS DOUBLE)"
            f" / ({float(M1Q_LOG_SCALE)} * n_tok)"
        )
    for k in range(K):
        out[f"xk{k}"] = f"floor(a{k} * {_EXP_INVLN2} + 0.5)"
    for k in range(K):
        out[f"xr{k}"] = f"a{k} - xk{k} * {_EXP_LN2}"
    for k in range(K):
        out[f"e{k}"] = _exp_poly_sql(f"xr{k}", f"xk{k}")
    ssum = "e0"
    for k in range(1, K):
        ssum = f"({ssum} + e{k})"
    out["ssum"] = ssum
    # region scores: integer rt_q literals * double theta, summed
    # left-associated; the common 1/(ssum * RT_SCALE) factor cancels
    # in the normalization, so thetas stay as e_k.
    for l in range(L):
        terms = [f"{rt_q[l][k]} * e{k}" for k in range(K)]
        sc = terms[0]
        for t in terms[1:]:
            sc = f"({sc} + {t})"
        out[f"sc{l}"] = sc
    tot = "sc0"
    for l in range(1, L):
        tot = f"({tot} + sc{l})"
    out["sctot"] = tot
    for l in range(L):
        out[f"p{l}"] = f"sc{l} / sctot"
    return out


def predict_regions_fixedpoint(docs: DataFrame) -> DataFrame:
    """Spark side of the fixed-point M1 scorer: doc_id, rank (1..5),
    region (0..L-1), prob_x1e6.  Entirely JVM-side expressions —
    per-row integer folds in the scan stage, one keyed window for the
    top-k."""
    exprs = _m1q_scalar_exprs("spark")
    L = M1Q_REGIONS
    df = docs.select("doc_id", "text")
    order = [
        "tids", "n_tok",
        *[f"s{k}" for k in range(M1Q_TOPICS)],
        *[f"lt{k}" for k in range(M1Q_TOPICS)],
        "ltmax",
        *[f"a{k}" for k in range(M1Q_TOPICS)],
        *[f"xk{k}" for k in range(M1Q_TOPICS)],
        *[f"xr{k}" for k in range(M1Q_TOPICS)],
        *[f"e{k}" for k in range(M1Q_TOPICS)],
        "ssum",
        *[f"sc{l}" for l in range(L)],
        "sctot",
        *[f"p{l}" for l in range(L)],
    ]
    # the non-empty-doc guard as a CHEAP pushdown predicate: Catalyst
    # pushes filters below the projects by substituting the filtered
    # column's defining expression — filtering on n_tok >= 1 directly
    # would re-evaluate the whole char-fold chain inside the scan
    # filter. exists(length>1) is equivalent (n_tok counts exactly
    # those tokens) and costs one pass over the split array.
    df = df.filter(F.expr("exists(split(text, ' '), t -> length(t) > 1)"))
    for name in order:
        df = df.withColumn(name, F.expr(exprs[name]))
    probs = F.array(*[F.col(f"p{l}") for l in range(L)])
    exploded = df.select(
        "doc_id", F.posexplode(probs).alias("region", "prob")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("prob").desc(), F.col("region").asc()
    )
    return (
        exploded.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= M1Q_TOP_K)
        .select(
            "doc_id",
            F.col("rank").cast("int").alias("rank"),
            F.col("region").cast("int").alias("region"),
            F.floor(F.col("prob") * M1Q_RT_SCALE + F.lit(0.5))
            .cast("long")
            .alias("prob_x1e6"),
        )
    )


def predict_regions_fixedpoint_sql() -> str:
    """DuckDB oracle replaying :func:`predict_regions_fixedpoint`
    bit-for-bit (same literals, same fold order, same IEEE chain)."""
    exprs = _m1q_scalar_exprs("duckdb")
    K, L = M1Q_TOPICS, M1Q_REGIONS
    stages = []
    stages.append(
        "base AS (SELECT doc_id, {tids} AS tids FROM documents)".format(
            tids=exprs["tids"]
        )
    )
    stages.append(f"n AS (SELECT doc_id, tids, {exprs['n_tok']} AS n_tok FROM base)")
    s_cols = ",\n             ".join(
        f"{exprs[f's{k}']} AS s{k}" for k in range(K)
    )
    stages.append(
        f"sums AS (SELECT doc_id, n_tok,\n             {s_cols}\n"
        "      FROM n WHERE n_tok >= 1)"
    )
    lt_cols = ",\n             ".join(
        f"{exprs[f'lt{k}']} AS lt{k}" for k in range(K)
    )
    stages.append(f"lts AS (SELECT doc_id, n_tok,\n             {lt_cols} FROM sums)")
    stages.append(
        f"mx AS (SELECT *, {exprs['ltmax']} AS ltmax FROM lts)"
    )
    a_cols = ",\n             ".join(
        f"{exprs[f'a{k}']} AS a{k}" for k in range(K)
    )
    stages.append(f"aa AS (SELECT doc_id,\n             {a_cols} FROM mx)")
    xk_cols = ",\n             ".join(
        f"{exprs[f'xk{k}']} AS xk{k}" for k in range(K)
    )
    stages.append(f"kk AS (SELECT *,\n             {xk_cols} FROM aa)")
    xr_cols = ",\n             ".join(
        f"{exprs[f'xr{k}']} AS xr{k}" for k in range(K)
    )
    stages.append(f"rr AS (SELECT *,\n             {xr_cols} FROM kk)")
    e_cols = ",\n             ".join(
        f"{exprs[f'e{k}']} AS e{k}" for k in range(K)
    )
    stages.append(f"es AS (SELECT doc_id,\n             {e_cols} FROM rr)")
    sc_cols = ",\n             ".join(
        f"{exprs[f'sc{l}']} AS sc{l}" for l in range(L)
    )
    stages.append(f"scs AS (SELECT doc_id,\n             {sc_cols} FROM es)")
    stages.append(f"tt AS (SELECT *, {exprs['sctot']} AS sctot FROM scs)")
    p_list = ", ".join(f"sc{l} / sctot" for l in range(L))
    stages.append(
        f"plist AS (SELECT doc_id, [{p_list}] AS ps FROM tt)"
    )
    stages.append(
        "expl AS (SELECT doc_id,"
        " CAST(generate_subscripts(ps, 1) - 1 AS INTEGER) AS region,"
        " unnest(ps) AS prob FROM plist)"
    )
    stages.append(
        "ranked AS (SELECT *, CAST(row_number() OVER ("
        "PARTITION BY doc_id ORDER BY prob DESC, region ASC)"
        " AS INTEGER) AS rank FROM expl)"
    )
    body = ",\n    ".join(stages)
    return f"""
    WITH {body}
    SELECT doc_id, rank, region,
           CAST(floor(prob * {M1Q_RT_SCALE} + 0.5) AS BIGINT) AS prob_x1e6
    FROM ranked WHERE rank <= {M1Q_TOP_K}
    """
