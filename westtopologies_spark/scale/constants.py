"""Shared arithmetic constants for the scale-extension operators.

Every hash here is pure int64 arithmetic (multiply/add/mod/shift)
so the Spark plan and the DuckDB oracle SQL — both generated from
THESE constants — produce bit-identical values. No engine-specific
hash function (xxhash64, md5, …) appears on the oracle-checked
path: shingle pipelines encode tokens with ``dedup.char_hash_tid``,
which is itself built from these constants.

All products are bounded to fit int64: operands are < 2**32 and
multiplicands < 2**20 wherever two variables multiply.
"""

from __future__ import annotations

# --- shingling / MinHash -------------------------------------------------
SHINGLE_N = 3  # token 3-grams
SHINGLE_P = 1_000_003  # prime modulus for shingle + minhash space
# (a, b) for h_i(s) = (a*s + b) mod SHINGLE_P ; a != 0 mod P, all < 2**13
MINHASH_COEFFS: tuple[tuple[int, int], ...] = (
    (2971, 101),
    (1583, 233),
    (3643, 569),
    (2129, 907),
    (4409, 1361),
    (1987, 1723),
    (3319, 2063),
    (2557, 2411),
)
MINHASH_BAND_ROWS = 2  # 8 hashes -> 4 bands of 2 (LSH banding)
MINHASH_JACCARD_THRESHOLD = 0.5

# --- n-gram Jaccard ------------------------------------------------------
NGRAM_JACCARD_THRESHOLD = 0.8

# --- overlap coefficient (containment) -----------------------------------
# |A ∩ B| / min(|A|, |B|): detects a document CONTAINED in another
# (train/test contamination, quote-heavy near-dups) that symmetric
# Jaccard misses when the container is much larger
OVERLAP_COEFF_THRESHOLD = 0.9

# --- SimHash -------------------------------------------------------------
SIMHASH_BITS = 32
SIMHASH_A = 2654435761  # Knuth multiplicative constant
SIMHASH_B = 40503
SIMHASH_M = 2**32
SIMHASH_BAND_BITS = 8  # 4 bands of 8 bits each for candidate gen
SIMHASH_MAX_HAMMING = 6

# --- document fingerprint (rolling polynomial hash) ----------------------
FP_P = 1_048_573
FP_MULT = 31

# --- embedding similarity ------------------------------------------------
EMBEDDING_DIM = 64
NEARDUP_COSINE_THRESHOLD = 0.4  # synthetic vectors are near-orthogonal
# Work bound for the EXACT near-dup kernel (VERDICT r6 #5): exactness
# is inherently O(n^2) worst-case, so the catalog entry refuses
# corpora above this size instead of melting down — 100k^2 * 64-dim
# is ~0.64 TFLOP of GEMM, a bounded final-verification job; anything
# larger must go through candidate generation (dd_pq_neardup / LSH).
NEARDUP_EXACT_MAX_ROWS = 100_000
ANN_TOP_K = 5
ANN_N_QUERIES = 10  # vec_id < 10 serve as the query set

# --- random-hyperplane LSH (sign-LSH for cosine) -------------------------
LSH_N_PLANES = 8
_LCG_A, _LCG_C, _LCG_M = 1103515245, 12345, 2**31

# --- IVF (inverted-file) ANN --------------------------------------------
IVF_N_LISTS = 16  # coarse-quantizer cells
IVF_SEED_STRIDE = 7  # seeds = first N_LISTS vec_ids with id % stride == 0
IVF_N_PROBE = 3  # cells searched per query (recall/cost knob)


def lsh_plane(plane: int, dim: int = EMBEDDING_DIM) -> list[float]:
    """Deterministic pseudo-random hyperplane components in
    [-0.5, 0.5): an LCG evaluated at plane*dim+j, divided by 2**31.
    Every value is exactly representable as an IEEE double, so a
    literal embedded in SQL re-parses to the identical bits."""
    out = []
    for j in range(dim):
        n = plane * dim + j
        r = (_LCG_A * n + _LCG_C) % _LCG_M
        out.append(r / _LCG_M - 0.5)
    return out


# --- k-means clustering --------------------------------------------------
KMEANS_K = 8  # clusters
KMEANS_ITERS = 3  # unrolled Lloyd iterations
KMEANS_SEED_STRIDE = 13  # seeds = first K vec_ids with id % stride == 0

# --- product quantization (PQ) -------------------------------------------
# Jegou et al. 2011: split the vector into M subspaces, k-means each
# subspace independently, store one small code per subspace.  The
# euclidean Lloyd iterations follow the same deterministic recipe as
# the spherical k-means above (stride seeds, per-round 1e-9 centroid
# rounding, 1e-6 distance rounding, min-cid ties) so the oracle
# replays the identical trace.
PQ_M = 4  # subspaces
PQ_SUB_DIM = EMBEDDING_DIM // PQ_M  # dims per subspace
PQ_K = 16  # codewords per subspace (4-bit codes)
PQ_ITERS = 2  # unrolled Lloyd iterations per subspace
PQ_SEED_STRIDE = 11  # seeds = first K vec_ids with id % stride == 0

# --- PQ asymmetric-distance (ADC) search ---------------------------------
# query set = first N vec_ids in a fixed residue class (disjoint from
# the codebook seeds' residue 0 mod 11 for most ids, and deterministic
# at every scale factor)
ADC_N_QUERIES = 8
ADC_TOP_K = 10
ADC_QUERY_STRIDE = 17
ADC_QUERY_OFFSET = 3

# --- PCA by power iteration ----------------------------------------------
PCA_POWER_ITERS = 6  # fixed-iteration power method on the D x D covariance


# --- text analysis -------------------------------------------------------
STOPWORDS: tuple[str, ...] = (
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from",
    "has", "he", "in", "is", "it", "its", "of", "on", "that", "the",
    "to", "was", "were", "will", "with",
)
SUBWORD_CHUNK = 4  # BPE-ish upper-bound estimate: ceil(len/4) per word

# --- Gopher-style document quality rules ----------------------------------
# The rule set mirrors the published Gopher/MassiveText filters (word
# count bounds, mean-word-length bounds, "contains >=2 required stop
# words", repetition caps), re-thresholded for the synthetic corpus.
# All ratios are emitted as exact integer-division x1e4 scaled values
# (positive domain, so Spark DIV == DuckDB // — no float rounding on
# the oracle-checked path).
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)
GOPHER_MIN_WORDS = 20
GOPHER_MEAN_WLEN_MIN_X1E4 = 30_000  # mean word length >= 3.0
GOPHER_MEAN_WLEN_MAX_X1E4 = 100_000  # mean word length <= 10.0
GOPHER_UNIQUE_FRAC_MIN_X1E4 = 3_000  # distinct/total words >= 0.30
GOPHER_TOP_FRAC_MAX_X1E4 = 2_000  # most frequent word <= 20% of doc
GOPHER_MIN_STOP_HITS = 2

# --- TextRank keyword extraction ------------------------------------------
TEXTRANK_TOP_K = 25
