"""Catalog entries for the scale-extension operators (dedup,
similarity search, text analysis, multimodal).

The oracle SQL is GENERATED from the same constants the Spark plans
use (:mod:`.scale.constants`), so both engines execute the identical
integer-hash arithmetic; floating-point reductions use explicit
left folds (Spark ``aggregate`` == DuckDB ``list_reduce`` with a
prepended seed) so sums are bit-identical, then round before any
compare/filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .scale import constants as C

# shared SQL fragment constants FIRST (pure literals over the leaf
# scale.constants): sibling submodules import them, and a
# queries_scale-FIRST import re-enters this module via .queries
# before anything below the .queries import exists (circular-import
# class, r5 fix)
# ---------------------------------------------------------------------------
# shared SQL fragments (documents tokenization / vocabulary / shingles)
# ---------------------------------------------------------------------------

_TOKS_CTE = """
    toks AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS token,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    vocab AS (
      SELECT token, row_number() OVER (ORDER BY token) AS tid
      FROM (SELECT DISTINCT token FROM toks)
    ),
    tok_ids AS (
      SELECT t.doc_id, t.pos, v.tid FROM toks t JOIN vocab v USING (token)
    ),
    ids AS (
      SELECT doc_id, list(tid ORDER BY pos) AS tids FROM tok_ids GROUP BY doc_id
    )
"""

# char-hash encoding (dedup.char_hash_tid): the
# token id is a pure expression of the token's code points — no
# vocabulary CTE at all, mirroring the Spark side's shuffle-free map
_TOKS_CHAR_CTE = f"""
    toks AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS token,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    tok_ids AS (
      SELECT doc_id, pos,
             list_reduce(list_prepend(0::BIGINT,
               list_transform(range(1, length(token) + 1),
                              i -> ord(token[i]))),
               (a, c) -> (a * {C.FP_MULT} + c) % {C.SHINGLE_P}) AS tid
      FROM toks
    ),
    ids AS (
      SELECT doc_id, list(tid ORDER BY pos) AS tids FROM tok_ids GROUP BY doc_id
    )
"""

_SHINGLES_CTE = f"""
    shingles AS (
      SELECT DISTINCT doc_id, s AS shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(tids) - {C.SHINGLE_N - 1}, 0) + 1),
                 i -> ((tids[i] * {C.FP_MULT} + tids[i + 1]) * {C.FP_MULT}
                        + tids[i + 2]) % {C.SHINGLE_P})) AS s
        FROM ids)
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id)
"""


_DOT = (
    "list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, {d} + 1), "
    "i -> {a}[i] * {b}[i])), (x, y) -> x + y)"
)
_NORM = (
    "sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform({v}, "
    "x -> x * x)), (x, y) -> x + y))"
)

from .queries import _as_scaled_int, _register, _scaled_int_sql, _t
from .scale import dedup, multimodal, similarity, textstats

def _minhash_sql(threshold: float = C.MINHASH_JACCARD_THRESHOLD) -> str:
    mins = ",\n             ".join(
        f"min((shingle * {a} + {b}) % {C.SHINGLE_P}) AS mh{i}"
        for i, (a, b) in enumerate(C.MINHASH_COEFFS)
    )
    rows = C.MINHASH_BAND_ROWS
    n_bands = len(C.MINHASH_COEFFS) // rows
    bands = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {expr} AS bucket FROM sigs".format(
            b=b,
            expr=" + ".join(
                f"mh{b * rows + r} * {C.SHINGLE_P ** (rows - 1 - r)}"
                for r in range(rows)
            ),
        )
        for b in range(n_bands)
    )
    return f"""
    WITH {_TOKS_CHAR_CTE.strip()},
    {_SHINGLES_CTE.strip()},
    sigs AS (
      SELECT doc_id,
             {mins}
      FROM shingles GROUP BY doc_id
    ),
    bands AS (
      {bands}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b,
           round(CAST(i.n_inter AS DOUBLE) / (sa.sz + sb.sz - i.n_inter), 4)
             AS jaccard
    FROM cand c
    JOIN inter i USING (doc_a, doc_b)
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    WHERE round(CAST(i.n_inter AS DOUBLE) / (sa.sz + sb.sz - i.n_inter), 4)
          >= {threshold}
    """


@_register(
    "dd_minhash_lsh",
    _minhash_sql(),
    doc="MinHash+LSH near-dup: 3-gram shingles -> 8-perm minwise "
    "signature -> 4x2 banded bucket self-join -> exact-Jaccard "
    "confirm. Scale extension (training-data dedup).",
)
def dd_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_dedup(docs)


@_register(
    "dd_exact",
    """
    SELECT min(doc_id) AS keep_id,
           count(*) AS n_copies,
           CAST(length(regexp_replace(lower(text), '\\s+', ' ', 'g'))
                AS INTEGER) AS norm_len
    FROM documents
    GROUP BY regexp_replace(lower(text), '\\s+', ' ', 'g')
    """,
    doc="Exact dedup: hash-groupBy on normalized text, min-id "
    "representative. Scale extension.",
)
def dd_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicate_groups(_t(spark, sf_dir, "documents"))


def _ngram_jaccard_sql() -> str:
    return f"""
    WITH {_TOKS_CHAR_CTE.strip()},
    {_SHINGLES_CTE.strip()},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 4)
          >= {C.NGRAM_JACCARD_THRESHOLD}
    """


@_register(
    "dd_ngram_jaccard",
    _ngram_jaccard_sql(),
    doc="Exact n-gram Jaccard >= 0.8 via inverted shingle index "
    "(no cross join). Scale extension.",
)
def dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs)


def _overlap_coeff_sql() -> str:
    return f"""
    WITH {_TOKS_CHAR_CTE.strip()},
    {_SHINGLES_CTE.strip()},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(n_inter AS DOUBLE) / least(sa.sz, sb.sz), 4) AS overlap
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(CAST(n_inter AS DOUBLE) / least(sa.sz, sb.sz), 4)
          >= {C.OVERLAP_COEFF_THRESHOLD}
    """


@_register(
    "dd_containment",
    _scaled_int_sql(_overlap_coeff_sql(), ["doc_a", "doc_b"], {"overlap": 4}),
    doc="Containment dedup (overlap coefficient |A∩B|/min(|A|,|B|) "
    ">= 0.9): catches a document pasted inside a larger one — the "
    "train/test-contamination screen symmetric Jaccard misses. Same "
    "inverted-shingle-index candidate generation as dd_ngram_jaccard "
    "(never all-pairs). Scale extension. Hash-exact output: the "
    "rounded coefficient ships as a scaled BIGINT (VERDICT r2 #3).",
)
def dd_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return _as_scaled_int(
        dedup.overlap_coefficient_pairs(docs), {"overlap": 4}
    )


@_register(
    "dd_ppjoin",
    _ngram_jaccard_sql(),
    doc="PPJoin-style prefix-filtered all-pairs Jaccard: candidates "
    "from each doc's rarest-shingle prefix only (lossless for t=0.8); "
    "oracle shared with dd_ngram_jaccard proves the filter exact. "
    "Scale extension.",
)
def dd_ppjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.prefix_jaccard_pairs(docs)


def _simhash_sql() -> str:
    h = f"(tid * {C.SIMHASH_A} + {C.SIMHASH_B}) % {C.SIMHASH_M}"
    bits = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (({h}) >> {j}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN {2**j} ELSE 0 END)"
        for j in range(C.SIMHASH_BITS)
    )
    n_bands = C.SIMHASH_BITS // C.SIMHASH_BAND_BITS
    mask = (1 << C.SIMHASH_BAND_BITS) - 1
    bands = "\n      UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, "
        f"(simhash >> {b * C.SIMHASH_BAND_BITS}) & {mask} AS bucket FROM sim"
        for b in range(n_bands)
    )
    # NB: simhash keeps the dense RANK encoding: its per-bit votes are
    # sums over tid bit patterns, and on the synthetic corpus's tiny
    # vocabulary the char-hash tid distribution collapses most
    # documents onto near-identical signatures (candidate blowup).
    return f"""
    WITH {_TOKS_CTE.strip()},
    sim AS (
      SELECT doc_id, {bits} AS simhash
      FROM tok_ids GROUP BY doc_id
    ),
    bands AS (
      {bands}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {C.SIMHASH_MAX_HAMMING}
    """


@_register(
    "dd_simhash",
    _simhash_sql(),
    doc="SimHash near-dup: 32-bit token-vote fingerprint, byte-band "
    "LSH candidates, hamming <= 6 confirm. Scale extension.",
)
def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = dedup.tokens_with_ids(docs, vocab_mode="rank")
    return dedup.simhash_near_pairs(dedup.simhash_values(toks))


# ---------------------------------------------------------------------------
# embedding similarity
# ---------------------------------------------------------------------------



def _neardup_sql() -> str:
    dot = _DOT.format(d=C.EMBEDDING_DIM, a="a.v", b="b.v")
    return f"""
    WITH base AS (
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    normed AS (SELECT id, v, {_NORM.format(v="v")} AS nrm FROM base)
    SELECT a.id AS id_a, b.id AS id_b,
           round({dot} / (a.nrm * b.nrm), 4) AS cosine
    FROM normed a JOIN normed b ON a.id < b.id
    WHERE round({dot} / (a.nrm * b.nrm), 4) >= {C.NEARDUP_COSINE_THRESHOLD}
    """


@_register(
    "dd_embedding_neardup",
    _neardup_sql(),
    doc="EXACT embedding-cosine near-dup pairs with LOSSLESS "
    "triangle-inequality cluster-pair pruning (VERDICT r2 perf-weak "
    "#2): spherical-k-means blocks carry centroid direction + angular "
    "radius, and cluster pairs whose spherical bound cannot reach the "
    "threshold are skipped before any GEMM — result set identical to "
    "all-pairs (the oracle replays the plain exact SQL, untouched; "
    "parity vs the unpruned kernel is pytest-pinned). Worst case "
    "degrades to the all-pairs grid, which is inherent to exactness — "
    "so the entry now carries an ENFORCED work bound (VERDICT r6 #5): "
    "corpora above NEARDUP_EXACT_MAX_ROWS raise with a pointer to the "
    "PQ-blocked approximate sibling (dd_pq_neardup, scale/similarity "
    "PQ codes: candidate pairs only within matching coarse blocks); "
    "reserve this exact kernel for final verification of bounded "
    "candidate sets. Scale extension.",
)
def dd_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.embedding_neardup_pairs_pruned(
        _t(spark, sf_dir, "embeddings"), max_rows=C.NEARDUP_EXACT_MAX_ROWS
    )


def _ann_bruteforce_sql() -> str:
    dot = _DOT.format(d=C.EMBEDDING_DIM, a="q.v", b="c.v")
    return f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    normed AS (SELECT vec_id, v, {_NORM.format(v="v")} AS nrm FROM base),
    q AS (SELECT * FROM normed WHERE vec_id < {C.ANN_N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round({dot} / (q.nrm * c.nrm), 6) AS cosine
      FROM q JOIN normed c ON q.vec_id <> c.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine
    FROM ranked
    WHERE rank <= {C.ANN_TOP_K}
    """


@_register(
    "ann_bruteforce_topk",
    _ann_bruteforce_sql(),
    doc="Brute-force cosine top-k ANN baseline: broadcast query set, "
    "exact double-precision scan, per-query top-k. Scale extension.",
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < C.ANN_N_QUERIES))


def _ann_lsh_sql() -> str:
    bits = []
    for p in range(C.LSH_N_PLANES):
        plane = "[" + ", ".join(repr(x) for x in C.lsh_plane(p)) + "]::DOUBLE[]"
        dot = _DOT.format(d=C.EMBEDDING_DIM, a="v", b=f"({plane})")
        bits.append(f"(CASE WHEN round({dot}, 9) >= 0 THEN {2**p} ELSE 0 END)")
    bucket = " + ".join(bits)
    qdot = _DOT.format(d=C.EMBEDDING_DIM, a="q.v", b="c.v")
    return f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    normed AS (
      SELECT vec_id, v, {_NORM.format(v="v")} AS nrm, {bucket} AS bucket
      FROM base
    ),
    q AS (SELECT * FROM normed WHERE vec_id < {C.ANN_N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round({qdot} / (q.nrm * c.nrm), 6) AS cosine
      FROM q JOIN normed c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine
    FROM ranked
    WHERE rank <= {C.ANN_TOP_K}
    """


@_register(
    "ann_lsh_bucketed",
    _ann_lsh_sql(),
    doc="Sign-LSH bucketed ANN: 8 deterministic hyperplanes -> "
    "bucket equi-join -> exact rerank (the keyed-join scale path; "
    "single-probe recall trade-off is oracle-replicated).",
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ann_lsh_topk(emb, emb.filter(F.col("vec_id") < C.ANN_N_QUERIES))


def _ann_ivf_sql() -> str:
    d = C.EMBEDDING_DIM
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
      SELECT q_id, qv, qn, cid FROM (
        SELECT q.vec_id AS q_id, q.v AS qv, q.nrm AS qn, c.cid,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round({pdot} / (q.nrm * c.cn), 6) DESC, c.cid ASC) AS pr
        FROM q CROSS JOIN cents_n c)
      WHERE pr <= {C.IVF_N_PROBE}
    ),
    scored AS (
      SELECT p.q_id AS query_id, c.vec_id AS neighbor_id,
             round({qdot} / (p.qn * c.nrm), 6) AS cosine
      FROM corpus c JOIN q_probe p ON c.cid = p.cid AND p.q_id <> c.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine
    FROM ranked
    WHERE rank <= {C.ANN_TOP_K}
    """


@_register(
    "ann_ivf_topk",
    _ann_ivf_sql(),
    doc="IVF ANN: deterministic stride-sampled seeds + one Lloyd step "
    "-> coarse-quantizer cells; queries probe the 3 nearest cells with "
    "exact cosine rerank (broadcast centroids; recall trade-off "
    "oracle-replicated). Scale extension.",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ann_ivf_topk(emb, F.col("vec_id") < C.ANN_N_QUERIES)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def _quality_sql() -> str:
    stop_list = ", ".join(f"'{w}'" for w in C.STOPWORDS)
    return f"""
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
    ),
    feats AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks) AS avg_len,
             CAST(len(list_filter(toks, x -> list_contains([{stop_list}], lower(x))))
                  AS DOUBLE) / len(toks) AS stop_ratio,
             CASE WHEN length(text) > 0 THEN
               CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                 / length(text)
             END AS alpha_ratio
      FROM t
    )
    SELECT doc_id,
           CAST(n_tokens AS INTEGER) AS n_tokens,
           avg_len AS avg_token_len,
           stop_ratio AS stopword_ratio,
           alpha_ratio,
           least(n_tokens / 100.0, 1.0) * 0.25
                 + least(stop_ratio * 4, 1.0) * 0.25
                 + alpha_ratio * 0.25
                 + least(avg_len / 8, 1.0) * 0.25 AS quality_score
    FROM feats
    """


@_register(
    "tx_quality_score",
    _quality_sql(),
    doc="Text quality scoring: token/length/stopword/alpha features "
    "+ composite score, all JVM-side expressions. Scale extension.",
    # r5 tie sweep (rule 16): raw bit-identical double, portable half-up
    scaled={
        "avg_token_len": 4,
        "stopword_ratio": 4,
        "alpha_ratio": 4,
        "quality_score": 4,
    },
    portable=True,
)
def tx_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.quality_scores(_t(spark, sf_dir, "documents"))


@_register(
    "tx_token_count",
    f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+', 0))
                AS INTEGER) AS word_tokens,
           -- CASE: DuckDB folds a NULL token list to the 0 seed where
           -- Spark aggregate(NULL, ...) is NULL (null-text domain edge)
           CASE WHEN text IS NULL THEN NULL
                ELSE list_reduce(list_prepend(0::BIGINT,
             list_transform(regexp_extract_all(text, '[A-Za-z]+', 0),
               w -> CAST(ceil(length(w) / {float(C.SUBWORD_CHUNK)}) AS BIGINT))),
             (a, b) -> a + b)
           END AS subword_est
    FROM documents
    """,
    doc="Token counting: whitespace, regex-word, and BPE-ish subword "
    "upper bound (ceil(len/4) per word). Scale extension.",
)
def tx_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_counts(_t(spark, sf_dir, "documents"))


def _fingerprint_sql() -> str:
    return f"""
    WITH {_TOKS_CHAR_CTE.strip()}
    SELECT doc_id,
           list_reduce(list_prepend(0::BIGINT, tids),
             (a, b) -> (a * {C.FP_MULT} + b) % {C.FP_P}) AS fingerprint
    FROM ids
    """


@_register(
    "tx_fingerprint",
    _fingerprint_sql(),
    doc="Document fingerprint: rolling polynomial hash over the "
    "dictionary-encoded token stream (order-sensitive). Scale ext.",
)
def tx_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.fingerprints(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


@_register(
    "mm_metadata",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           CAST(64 + (doc_id % 8) * 16 AS INT) AS width,
           CAST(64 + (doc_id % 5) * 32 AS INT) AS height,
           3 AS channels,
           'text/plain;src=' || source AS mime
    FROM documents
    """,
    doc="Multimodal metadata projection over the binary-payload "
    "table (binary column + typed meta struct). Scale extension.",
)
def mm_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = multimodal.as_binary_docs(_t(spark, sf_dir, "documents"))
    return b.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.channels").alias("channels"),
        F.col("meta.mime").alias("mime"),
    )


@_register(
    "mm_byte_histogram",
    """
    WITH chars AS (
      SELECT doc_id,
             ascii(unnest(string_split(text, ''))) AS code
      FROM documents
    )
    SELECT doc_id, CAST(code // 16 AS INT) AS bin, count(*) AS n
    FROM chars GROUP BY 1, 2
    """,
    doc="Multimodal feature-extraction kernel: mapInPandas byte "
    "histogram over binary payloads (Arrow-batched; the decode/"
    "resize template). Oracle via UTF-8 <-> char-code equivalence.",
)
def mm_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = multimodal.as_binary_docs(_t(spark, sf_dir, "documents"))
    return multimodal.byte_histogram(b)


def _kmeans_cte_parts() -> list[str]:
    """WITH-clause parts replaying :func:`similarity.kmeans_assignments`'s
    deterministic iteration trace, ending in a CTE ``kassign(vec_id,
    cluster_id, cosine)`` — composable into larger oracles (e.g. the
    cluster-blocked semantic dedup)."""
    d = C.EMBEDDING_DIM
    mean_list = ", ".join(f"round(avg(n.v[{i + 1}]), 9)" for i in range(d))
    dot = _DOT.format(d=d, a="n.v", b="c.cv")
    parts = [
        f"""base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    normed AS (SELECT vec_id, v, {_NORM.format(v="v")} AS nrm FROM base),
    c0 AS (
      SELECT vec_id AS cid, v AS cv, nrm AS cn FROM normed
      WHERE vec_id % {C.KMEANS_SEED_STRIDE} = 0
      ORDER BY vec_id LIMIT {C.KMEANS_K}
    )"""
    ]
    for i in range(C.KMEANS_ITERS):
        parts.append(
            f"""s{i} AS (
      SELECT n.vec_id, c.cid, round({dot} / (n.nrm * c.cn), 6) AS sim
      FROM normed n CROSS JOIN c{i} c
    ),
    b{i} AS (SELECT vec_id, max(sim) AS best FROM s{i} GROUP BY vec_id),
    a{i} AS (
      SELECT s.vec_id, min(s.cid) AS cid
      FROM s{i} s JOIN b{i} b ON s.vec_id = b.vec_id AND s.sim = b.best
      GROUP BY s.vec_id
    ),
    m{i + 1} AS (
      SELECT a.cid, [{mean_list}]::DOUBLE[] AS cv
      FROM a{i} a JOIN normed n USING (vec_id) GROUP BY a.cid
    ),
    c{i + 1} AS (SELECT cid, cv, {_NORM.format(v="cv")} AS cn FROM m{i + 1})"""
        )
    fin = C.KMEANS_ITERS
    parts.append(
        f"""sf AS (
      SELECT n.vec_id, c.cid, round({dot} / (n.nrm * c.cn), 6) AS sim
      FROM normed n CROSS JOIN c{fin} c
    ),
    bf AS (SELECT vec_id, max(sim) AS best FROM sf GROUP BY vec_id),
    kassign AS (
      SELECT s.vec_id, min(s.cid) AS cluster_id, max(s.sim) AS cosine
      FROM sf s JOIN bf b ON s.vec_id = b.vec_id AND s.sim = b.best
      GROUP BY s.vec_id
    )"""
    )
    return parts


def _kmeans_sql() -> str:
    return (
        "WITH "
        + ",\n    ".join(_kmeans_cte_parts())
        + "\n    SELECT vec_id, cluster_id, cosine FROM kassign"
    )


@_register(
    "emb_kmeans",
    _kmeans_sql(),
    doc="Spherical k-means over the embedding corpus: 3 unrolled "
    "Lloyd iterations (broadcast centroids, map-side-combined "
    "re-centering, persisted corpus scan), deterministic stride "
    "seeds and tie-breaks so the oracle replays the exact iteration "
    "trace. Scale extension.",
)
def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.kmeans_assignments(emb)


def _quantize_sql() -> str:
    d = C.EMBEDDING_DIM
    return f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    s AS (
      SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx,
             (list_max(v) - list_min(v)) / 255.0 AS sc
      FROM base
    ),
    e AS (
      SELECT vec_id, mn, mx,
             list_transform(v, x -> CASE WHEN sc > 0
               THEN pow(x - (mn + round((x - mn) / sc) * sc), 2.0)
               ELSE 0.0 END) AS err2
      FROM s
    )
    SELECT vec_id, round(mn, 6) AS vmin, round(mx, 6) AS vmax,
           round(list_reduce(list_prepend(0.0::DOUBLE, err2),
                             (a, b) -> a + b) / {d}.0, 9) AS mse_q
    FROM e
    """


@_register(
    "emb_quantize",
    _quantize_sql(),
    doc="Int8 scalar-quantization audit: per-vector range + "
    "reconstruction MSE of the 8-bit code (the 4x storage compression "
    "of a large vector corpus, with its measured cost). Elementwise "
    "expressions + explicit left fold — bit-identical cross-engine "
    "before rounding. Scale extension.",
)
def emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.quantize_stats(_t(spark, sf_dir, "embeddings"))


def _minhash_audit_sql() -> str:
    n_h = len(C.MINHASH_COEFFS)
    mins = ",\n             ".join(
        f"min((shingle * {a} + {b}) % {C.SHINGLE_P}) AS mh{i}"
        for i, (a, b) in enumerate(C.MINHASH_COEFFS)
    )
    rows = C.MINHASH_BAND_ROWS
    n_bands = n_h // rows
    bands = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {expr} AS bucket FROM sigs".format(
            b=b,
            expr=" + ".join(
                f"mh{b * rows + r} * {C.SHINGLE_P ** (rows - 1 - r)}"
                for r in range(rows)
            ),
        )
        for b in range(n_bands)
    )
    agree = " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(n_h)
    )
    return f"""
    WITH {_TOKS_CHAR_CTE.strip()},
    {_SHINGLES_CTE.strip()},
    sigs AS (
      SELECT doc_id,
             {mins}
      FROM shingles GROUP BY doc_id
    ),
    bands AS (
      {bands}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    est AS (
      SELECT c.doc_a, c.doc_b,
             round(({agree}) / {n_h}.0, 4) AS jaccard_est
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.doc_a
      JOIN sigs sb ON sb.doc_id = c.doc_b
    )
    SELECT e.doc_a, e.doc_b, e.jaccard_est,
           round(CAST(i.n_inter AS DOUBLE) / (za.sz + zb.sz - i.n_inter), 4)
             AS jaccard,
           round(e.jaccard_est
                 - round(CAST(i.n_inter AS DOUBLE)
                         / (za.sz + zb.sz - i.n_inter), 4), 4) AS est_error
    FROM est e
    JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
    JOIN sizes za ON za.doc_id = e.doc_a
    JOIN sizes zb ON zb.doc_id = e.doc_b
    """


@_register(
    "dd_minhash_audit",
    _minhash_audit_sql(),
    doc="MinHash estimator-accuracy audit: signature-agreement "
    "Jaccard estimate vs exact shingle Jaccard with signed error on "
    "every LSH candidate pair — the QC number that justifies the "
    "sketch threshold; deterministic under the fixed permutation "
    "family, so fully oracle-checked. Scale extension.",
)
def dd_minhash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_estimate_audit(docs)


@_register(
    "dd_shingle_skew_profile",
    f"""
    WITH {_TOKS_CHAR_CTE.strip()},
    {_SHINGLES_CTE.strip()},
    df AS (SELECT shingle, count(*) AS df FROM shingles GROUP BY 1)
    SELECT df, count(*) AS n_shingles FROM df GROUP BY 1
    """,
    doc="Shingle document-frequency histogram (how many shingles "
    "occur in exactly df docs): the skew profile that sizes every "
    "inverted-index join in the dedup family — the heavy tail IS "
    "the hot-key risk AQE skew splitting guards against, measured "
    "rather than assumed. Two partial-agg "
    "shuffles, output bounded by max(df). Scale extension.",
)
def dd_shingle_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    shingles = dedup.exploded_shingles(docs)
    df = shingles.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return df.groupBy("df").agg(F.count(F.lit(1)).alias("n_shingles"))


def _ann_recall_sql() -> str:
    k = C.ANN_TOP_K
    return f"""
    WITH exact_r AS ({_ann_bruteforce_sql()}),
    lsh_r AS ({_ann_lsh_sql()})
    SELECT e.query_id,
           CAST({k} AS BIGINT) AS k,
           CAST(count(l.neighbor_id) AS BIGINT) AS n_overlap,
           CAST(count(l.neighbor_id) * 10000 // {k} AS BIGINT)
             AS recall_x1e4
    FROM exact_r e
    LEFT JOIN lsh_r l
      ON e.query_id = l.query_id AND e.neighbor_id = l.neighbor_id
    GROUP BY e.query_id
    """


@_register(
    "ann_recall_audit",
    _ann_recall_sql(),
    doc="ANN recall@k audit: per query, how many of the exact "
    "brute-force top-k the sign-LSH bucketed search returned — the "
    "measurement that decides whether single-probe LSH is usable or "
    "needs multi-probe/IVF. Composes the two existing search plans "
    "plus one k-row-per-query overlap join; integer recall output "
    "(hash-exact). At corpus scale the exact side runs on a sampled "
    "query set exactly as here (N_QUERIES rows broadcast). Scale "
    "extension.",
)
def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < C.ANN_N_QUERIES)
    return similarity.recall_overlap(
        similarity.cosine_topk(emb, q),
        similarity.ann_lsh_topk(emb, q),
        C.ANN_TOP_K,
    )


def _dedup_funnel_sql() -> str:
    return f"""
    WITH pairs AS ({_minhash_sql()}),
    groups AS (
      SELECT count(*) AS n_copies
      FROM documents
      GROUP BY regexp_replace(lower(text), '\\s+', ' ', 'g')
    )
    SELECT 'corpus_docs' AS stage, count(*) AS n FROM documents
    UNION ALL
    SELECT 'exact_dup_groups', count(*) FROM groups WHERE n_copies > 1
    UNION ALL
    SELECT 'exact_extra_copies',
           CAST(coalesce(sum(n_copies - 1), 0) AS BIGINT)
    FROM groups WHERE n_copies > 1
    UNION ALL
    SELECT 'neardup_pairs', count(*) FROM pairs
    UNION ALL
    SELECT 'neardup_docs', count(DISTINCT doc_id) FROM (
      SELECT doc_a AS doc_id FROM pairs
      UNION ALL SELECT doc_b FROM pairs)
    """


@_register(
    "dd_funnel_report",
    _dedup_funnel_sql(),
    doc="Dedup-pipeline observability: one row per funnel stage — "
    "corpus size, exact-duplicate groups and removable extra copies, "
    "confirmed MinHash near-dup pairs, and distinct documents touched "
    "by near-dup pairs — the per-build report a curation pipeline "
    "publishes so dedup drift is visible build over build. Each stage "
    "is an independent partial-agg'd count over plans the catalog "
    "already exercises; pure integers (hash-exact). Scale extension.",
)
def dd_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    groups = dedup.exact_duplicate_groups(docs)
    # both frames feed TWO funnel stages each; without the lineage
    # cut the whole MinHash pipeline (shingle -> band -> confirm) and
    # the exact-group aggregation execute once per consuming stage
    dup_groups = groups.filter(F.col("n_copies") > 1).localCheckpoint()
    pairs = dedup.minhash_lsh_dedup(docs).localCheckpoint()

    def row(stage: str, df_agg) -> DataFrame:
        return df_agg.select(
            F.lit(stage).alias("stage"), F.col("n").cast("long").alias("n")
        )

    corpus = row("corpus_docs", docs.agg(F.count(F.lit(1)).alias("n")))
    g1 = row(
        "exact_dup_groups", dup_groups.agg(F.count(F.lit(1)).alias("n"))
    )
    g2 = row(
        "exact_extra_copies",
        dup_groups.agg(
            F.coalesce(F.sum(F.col("n_copies") - 1), F.lit(0)).alias("n")
        ),
    )
    p1 = row("neardup_pairs", pairs.agg(F.count(F.lit(1)).alias("n")))
    nodes = pairs.select(F.col("doc_a").alias("doc_id")).unionAll(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    p2 = row(
        "neardup_docs", nodes.agg(F.countDistinct("doc_id").alias("n"))
    )
    return corpus.unionByName(g1).unionByName(g2).unionByName(p1).unionByName(p2)


# ---------------------------------------------------------------------------
# LSH index health: per-band bucket-degree statistics
# ---------------------------------------------------------------------------


def _band_stats_sql() -> str:
    mins = ",\n             ".join(
        f"min((shingle * {a} + {b}) % {C.SHINGLE_P}) AS mh{i}"
        for i, (a, b) in enumerate(C.MINHASH_COEFFS)
    )
    rows = C.MINHASH_BAND_ROWS
    n_bands = len(C.MINHASH_COEFFS) // rows
    bands = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {expr} AS bucket FROM sigs".format(
            b=b,
            expr=" + ".join(
                f"mh{b * rows + r} * {C.SHINGLE_P ** (rows - 1 - r)}"
                for r in range(rows)
            ),
        )
        for b in range(n_bands)
    )
    return f"""
    WITH {_TOKS_CHAR_CTE.strip()},
    {_SHINGLES_CTE.strip()},
    sigs AS (
      SELECT doc_id,
             {mins}
      FROM shingles GROUP BY doc_id
    ),
    bands AS (
      {bands}
    ),
    per_bucket AS (
      SELECT band, bucket, count(*) AS k FROM bands GROUP BY 1, 2
    )
    SELECT band, CAST(sum(k) AS BIGINT) AS n_docs,
           count(*) AS n_buckets,
           CAST(max(k) AS BIGINT) AS max_bucket_docs,
           CAST(sum(k * (k - 1) // 2) AS BIGINT) AS candidate_pairs
    FROM per_bucket GROUP BY band
    """


@_register(
    "dd_band_stats",
    _band_stats_sql(),
    doc="LSH index health report: per band, the number of indexed "
    "docs, distinct buckets, the hottest bucket's population, and "
    "the implied candidate-pair mass sum(k*(k-1)/2) — the skew "
    "numbers that decide whether band width needs widening or hot "
    "buckets need df-capping BEFORE the self-join runs (a hot bucket "
    "is quadratic in its population). Signatures come from the "
    "scan-stage per-row kernel (row_band_buckets: no explode, no "
    "groupBy — nothing shuffles until this aggregation itself); "
    "pure-integer output (hash-exact). Dedup extension.",
)
def dd_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    per_bucket = (
        dedup.row_band_buckets(docs)
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    return per_bucket.groupBy("band").agg(
        F.sum("k").cast("long").alias("n_docs"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("k").cast("long").alias("max_bucket_docs"),
        F.sum(F.expr("k * (k - 1) div 2")).cast("long").alias("candidate_pairs"),
    )


# ---------------------------------------------------------------------------
# content-defined chunking (binary dedup primitive)
# ---------------------------------------------------------------------------


def _cdc_chunks_cte() -> str:
    w = multimodal.CDC_WINDOW
    d = multimodal.CDC_DIVISOR
    pw = [C.FP_MULT**k for k in range(w)]
    wh = " + ".join(f"cs[i - {k}] * {pw[k]}" for k in range(w))
    return f"""
    codes AS (
      SELECT doc_id,
             list_transform(string_split(text, ''),
                            c -> CAST(ascii(c) AS BIGINT)) AS cs,
             length(text) AS L
      FROM documents
    ),
    bnd AS (
      SELECT doc_id, cs, L,
             list_filter(range({w}, L + 1),
                         i -> ({wh}) % {d} = 0 AND i < L) AS bpos
      FROM codes
    ),
    sp AS (
      SELECT doc_id, cs,
             list_prepend(0, bpos) AS starts,
             list_append(bpos, L) AS ends
      FROM bnd
    ),
    ch AS (
      SELECT doc_id,
             unnest(range(1, len(starts) + 1)) AS chunk_idx,
             unnest(list_transform(range(1, len(starts) + 1),
                    k -> CAST(ends[k] - starts[k] AS BIGINT))) AS chunk_len,
             unnest(list_transform(range(1, len(starts) + 1),
                    k -> list_reduce(
                           list_prepend(0::BIGINT,
                                        cs[starts[k] + 1 : ends[k]]),
                           (a, c) -> (a * {C.FP_MULT} + c)
                                     % {C.FP_P}))) AS chunk_fp
      FROM sp
    )
    """


@_register(
    "mm_cdc_chunks",
    "WITH "
    + _cdc_chunks_cte()
    + """
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           chunk_len, chunk_fp
    FROM ch
    """,
    doc="Content-defined chunking of binary payloads (FastCDC/rabin "
    "family, fixed-window polynomial boundaries): boundaries follow "
    "CONTENT, so an insertion shifts every fixed-size block but "
    "leaves later CDC chunk fingerprints intact — the storage/"
    "backup/multimodal shared-sub-object dedup primitive. All "
    "per-row array arithmetic (window hash, boundary filter, chunk "
    "slice, fingerprint fold) — zero shuffle; pure-integer output "
    "(hash-exact). Multimodal extension.",
)
def mm_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.cdc_chunks(_t(spark, sf_dir, "documents"))


@_register(
    "mm_cdc_dedup",
    "WITH "
    + _cdc_chunks_cte()
    + """
    , per_fp AS (
      SELECT chunk_fp, count(*) AS cnt,
             CAST(sum(chunk_len) AS BIGINT) AS bytes,
             min(chunk_len) AS one_len
      FROM ch GROUP BY 1
    )
    SELECT CAST(sum(cnt) AS BIGINT) AS n_chunks,
           count(*) AS distinct_chunks,
           CAST(sum(bytes) AS BIGINT) AS total_bytes,
           CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_chunk_fps,
           CAST(sum(CASE WHEN cnt > 1 THEN bytes - one_len ELSE 0 END)
                AS BIGINT) AS removable_bytes
    FROM per_fp
    """,
    doc="Corpus chunk-dedup rollup over the CDC chunks: chunk count, "
    "distinct fingerprints, total bytes, shared fingerprints, and "
    "removable bytes (all but one copy of every shared chunk) — the "
    "storage-dedup-ratio report. One fingerprint-keyed partial agg "
    "+ a single-row fold; pure integers (hash-exact). Multimodal "
    "extension.",
)
def mm_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.cdc_dedup_stats(
        multimodal.cdc_chunks(_t(spark, sf_dir, "documents"))
    )
