"""Training-data preparation operators: document chunking with
overlap, sequence packing, and deterministic stratified sampling.

These extend the reference's text pipeline (SURVEY.md §2.8 — its
prep stops at tokenize/stem/dictionary-encode, ``TweetIndexBolt.
java:143-186``) with the corpus-shaping steps an LLM pretraining
pipeline runs at 100 TB.  All three are pure built-in expressions
(whole-stage codegen; no Python in the hot path) and every random
choice is a deterministic integer hash so the oracle can replay it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import constants as C

# --- chunking ------------------------------------------------------------
CHUNK_SIZE = 200  # chars per chunk
CHUNK_STRIDE = 150  # start-to-start distance => 50-char overlap

# --- packing -------------------------------------------------------------
PACK_BUDGET = 256  # whitespace tokens per packed sequence

# --- sampling ------------------------------------------------------------
SAMPLE_SALT = 12345
# per-mille keep rates by language: downsample the dominant language,
# keep the tail (the classic pretraining rebalance)
SAMPLE_RATE_PER_MILLE = {"en": 250, "de": 800, "es": 800, "fr": 800, "zh": 800}
SAMPLE_DEFAULT_PER_MILLE = 500


def chunk_documents(
    docs: DataFrame,
    size: int = CHUNK_SIZE,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Split each document into fixed-size character chunks with
    ``size - stride`` overlap (context-window shaping).  Chunk k
    covers 1-indexed positions [1 + k*stride, 1 + k*stride + size).
    Every document yields at least one chunk; a final shorter tail
    chunk is kept.

    The explode is bounded (n_chars/stride per row) and per-row
    independent — no shuffle at all: the plan is scan -> generate ->
    project, perfectly partition-parallel at any scale.
    """
    starts = F.sequence(F.lit(1), F.greatest(F.length("text"), F.lit(1)), F.lit(stride))
    return (
        docs.select(
            "doc_id",
            F.posexplode(starts).alias("chunk_id", "start"),
            F.col("text"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.substring(F.col("text"), F.col("start"), size).alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text"))
    )


def pack_sequences(
    docs: DataFrame,
    budget: int = PACK_BUDGET,
    group: str = "source",
) -> DataFrame:
    """Streaming concat-and-split sequence packing (GPT-style): within
    each ``group``, documents are laid end-to-end in doc_id order and
    cut into fixed ``budget``-token bins; a document is assigned to
    the bin where its first token lands.  Returns per-bin occupancy
    (n_docs, sum_tokens, fill_x1e4 = occupancy ratio scaled by 1e4 as
    an EXACT integer — a rounded DOUBLE here is hash-fragile across
    engines on exact-half decimal boundaries like 8/256; VERDICT r2
    #2).

    The running sum partitions by ``group`` — packing parallelism is
    the group count (sources/shards at real scale), and each window
    sort is partition-local.  This is the deterministic, shuffle-
    minimal alternative to first-fit-decreasing bin packing, and is
    what large pretraining pipelines actually do (pack then split).
    """
    toks = F.size(F.split(F.col("text"), " "))
    w = (
        Window.partitionBy("grp")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_bin = docs.select(
        F.col(group).alias("grp"),
        "doc_id",
        toks.alias("n_tokens"),
    ).withColumn(
        "bin_id",
        ((F.sum("n_tokens").over(w) - F.col("n_tokens")) / budget).cast("long"),
    )
    return with_bin.groupBy("grp", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        # exact integer occupancy-per-mille-of-1e4: pure int64 div,
        # bit-identical on every engine (nonnegative -> floor == trunc)
        F.expr(f"(sum(n_tokens) * 10000) div {int(budget)}").alias("fill_x1e4"),
    )


LEN_BUCKET_W = 64  # tokens per length-bucket
TOKENS_PER_BATCH = 16384  # padded-token budget per GPU batch


def length_bucket_batches(
    docs: DataFrame,
    bucket_w: int = LEN_BUCKET_W,
    budget: int = TOKENS_PER_BATCH,
    group: str = "lang",
) -> DataFrame:
    """Dynamic-batching plan by sequence length: docs are bucketed by
    token count (bucket cap = (bucket+1)*bucket_w), each bucket packs
    ``budget // cap`` sequences per padded batch, and the plan reports
    per (group, bucket): doc count, token sum, batch size, batch
    count, and the padding waste (docs*cap - tokens) — the numbers a
    trainer needs to size length-bucketed loaders and to see how much
    compute padding burns versus :func:`pack_sequences`-style packing.

    Pure integer arithmetic end to end (hash-exact), one partial-agg
    shuffle to a |groups| x |buckets|-bounded result; the per-row
    bucket expression runs in the scan stage.
    """
    toks = F.size(F.split(F.col("text"), " "))
    b = docs.select(
        F.col(group).alias("grp"), toks.alias("n_tokens")
    ).withColumn("bucket", F.expr(f"(n_tokens - 1) div {int(bucket_w)}"))
    agg = (
        b.groupBy("grp", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        # derive each sizing column from the previous one so the rule
        # lives in exactly one expression (CODE-REVIEW r3)
        .withColumn(
            "bucket_cap", ((F.col("bucket") + 1) * bucket_w).cast("long")
        )
        .withColumn(
            "batch_size",
            F.greatest(
                F.lit(1), F.expr(f"{int(budget)} div bucket_cap")
            ).cast("long"),
        )
        .withColumn(
            "n_batches",
            F.expr("(n_docs + batch_size - 1) div batch_size").cast("long"),
        )
        .withColumn(
            "pad_tokens",
            (F.col("n_docs") * F.col("bucket_cap") - F.col("sum_tokens")).cast(
                "long"
            ),
        )
    )
    return agg.select(
        "grp",
        "bucket",
        "bucket_cap",
        "n_docs",
        "sum_tokens",
        "batch_size",
        "n_batches",
        "pad_tokens",
    )


def sample_hash_col(id_col: str = "doc_id") -> F.Column:
    """Deterministic per-row sampling hash in [0, 1000): pure int64
    arithmetic (same expression is emitted into the oracle SQL), so
    the sample is reproducible across engines and runs — unlike
    ``rand()``, whose stream depends on partitioning."""
    h = (F.col(id_col) * C.SIMHASH_A + SAMPLE_SALT) % C.FP_P
    return (h % 1000).cast("long")


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, int] | None = None,
    default_rate: int = SAMPLE_DEFAULT_PER_MILLE,
    strata: str = "lang",
) -> DataFrame:
    """Deterministic stratified (per-language) downsampling: keep a
    row iff hash(doc_id) mod 1000 < rate_per_mille(lang).  The rate
    table rebalances the corpus (downsample the head language, keep
    the tail) — the standard pretraining language-mix step.

    No shuffle: the keep decision is a per-row expression; the strata
    rates are a literal CASE (broadcast-free).  Exactness of the
    realized fraction follows the hash uniformity, not a per-
    partition RNG, so results are stable under repartitioning.
    """
    rates = SAMPLE_RATE_PER_MILLE if rates is None else rates
    rate = F.lit(default_rate)
    for k, v in sorted(rates.items()):
        rate = F.when(F.col(strata) == k, F.lit(v)).otherwise(rate)
    return (
        docs.withColumn("sample_bucket", sample_hash_col())
        .withColumn("keep_rate", rate.cast("long"))
        .filter(F.col("sample_bucket") < F.col("keep_rate"))
    )


# --- redaction -----------------------------------------------------------
# (pattern, replacement) pairs applied in order; Java and RE2 dialects
# agree on this subset (character classes, +, {m,n} — no backrefs or
# lookaround, which RE2 lacks)
REDACT_RULES: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\+?[0-9][0-9()\- ]{6,}[0-9]", "<PHONE>"),
    (r"[0-9]+", "#"),
)


def redact(col, rules: tuple[tuple[str, str], ...] = REDACT_RULES):
    """PII scrubbing as a pure column expression: chained
    ``regexp_replace`` (global, like SQL's 'g' flag) applying
    email -> phone -> digit masking in order.  Zero shuffle, runs
    inside whole-stage codegen at scan speed; patterns restricted to
    the regex subset Java and RE2 interpret identically so the same
    rules run on any engine."""
    out = F.col(col) if isinstance(col, str) else col
    for pat, rep in rules:
        out = F.regexp_replace(out, pat, rep)
    return out


# --- per-stratum capping -------------------------------------------------
GROUP_SAMPLE_K = 10


def group_sample(
    docs: DataFrame,
    k: int = GROUP_SAMPLE_K,
    strata: str = "lang",
) -> DataFrame:
    """Deterministic k-per-stratum sample: rank each stratum's rows
    by the sampling hash (ties broken by doc_id) and keep the first
    ``k`` — per-group capping for eval-set construction or per-source
    quota enforcement.  One key-partitioned window; the rank order is
    a pure hash so re-runs and repartitions pick the same rows
    (a distributed reservoir sample without the reservoir)."""
    h = sample_hash_col()
    w = Window.partitionBy("stratum").orderBy(
        F.col("h").asc(), F.col("doc_id").asc()
    )
    return (
        docs.select(F.col(strata).alias("stratum"), "doc_id", h.alias("h"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def contamination_rates(train: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """Eval-set contamination report: for each eval document, the
    fraction of its token n-gram shingles that also appear anywhere
    in the training corpus — the standard n-gram decontamination
    measurement run before reporting benchmark numbers.

    (doc_id, n_shingles, n_contaminated, rate).  The train side
    collapses to a distinct-shingle set (partial-agg'd, orders of
    magnitude smaller than the corpus) and the probe is a hash
    left-join from the (small) eval shingles — at 100 TB the train
    set is a precomputed bucketed table, making this a map-side probe
    of the delta, same shape as incremental dedup."""
    from .dedup import exploded_shingles

    train_set = (
        exploded_shingles(train)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    eval_sh = exploded_shingles(eval_docs)
    return (
        eval_sh.join(train_set, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("_hit").alias("n_contaminated"),
            # raw ratio; portable-wrapped by the catalog entry (rule 4)
            (F.count("_hit") / F.count(F.lit(1))).alias("rate"),
        )
    )


# --- mixture balancing ---------------------------------------------------
# target corpus proportions in per-mille; kept integral so every
# arithmetic step (scale factor, quotas) is exact int64 on any engine
MIXTURE_WEIGHTS_PER_MILLE = {
    "en": 300,
    "de": 200,
    "es": 200,
    "fr": 150,
    "zh": 150,
}
MIXTURE_DEFAULT_PER_MILLE = 100


def balanced_mixture(
    docs: DataFrame,
    weights: dict[str, int] | None = None,
    default_weight: int = MIXTURE_DEFAULT_PER_MILLE,
    strata: str = "lang",
) -> DataFrame:
    """Downsample to an exact target mixture: given per-stratum target
    weights (per-mille), find the largest corpus scale ``lam`` such
    that every stratum can fill its share from the rows it has
    (``lam = min_s(n_s * 1000 div w_s)``), set per-stratum quotas
    ``lam * w_s div 1000``, and keep each stratum's first ``quota``
    rows ranked by the deterministic sampling hash.  The kept set has
    the target proportions exactly — the dataset-mixing step that sets
    corpus composition before training, generalizing the static-rate
    :func:`stratified_sample` to data-driven quotas.

    All quota arithmetic is integer division (bit-identical on any
    engine); the stratum counts and the quota table are tiny (one row
    per stratum) and broadcast back, so the only corpus-sized work is
    one key-partitioned rank window — same shuffle shape as
    :func:`group_sample`.
    """
    weights = MIXTURE_WEIGHTS_PER_MILLE if weights is None else weights
    w = F.lit(default_weight)
    for k, v in sorted(weights.items()):
        w = F.when(F.col("stratum") == k, F.lit(v)).otherwise(w)
    counts = (
        docs.groupBy(F.col(strata).alias("stratum"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_w", w.cast("long"))
    )
    lam = counts.select(
        F.min(F.expr("(_n * 1000) div _w")).alias("_lam")
    )
    quota = counts.crossJoin(F.broadcast(lam)).select(
        "stratum", F.expr("(_lam * _w) div 1000").alias("quota")
    )
    ranked = docs.select(
        F.col(strata).alias("stratum"),
        "doc_id",
        sample_hash_col().alias("_h"),
    ).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("stratum").orderBy(
                F.col("_h").asc(), F.col("doc_id").asc()
            )
        ),
    )
    return (
        ranked.join(F.broadcast(quota), "stratum")
        .filter(F.col("rk") <= F.col("quota"))
        .select("stratum", "doc_id", "rk", "quota")
    )


def token_budget_mixture(
    docs: DataFrame,
    weights: dict[str, int] | None = None,
    default_weight: int = MIXTURE_DEFAULT_PER_MILLE,
    strata: str = "lang",
) -> DataFrame:
    """TOKEN-weighted mixture balancing: like :func:`balanced_mixture`
    but quotas are in tokens, which is what the loss actually samples
    — a stratum of few long documents must not outweigh one of many
    short ones.  ``lam = min_s(tokens_s * 1000 div w_s)`` is the
    largest token budget every stratum can fill; a document is kept
    iff it STARTS inside its stratum's quota in deterministic hash
    rank order (the boundary document is kept whole), so the kept set
    is reproducible and the rule is pure integer arithmetic.

    Same shuffle shape as :func:`balanced_mixture` (one keyed rank
    window + tiny broadcast quota table); the running token sum rides
    the same sort.
    """
    weights = MIXTURE_WEIGHTS_PER_MILLE if weights is None else weights
    w = F.lit(default_weight)
    for k, v in sorted(weights.items()):
        w = F.when(F.col("stratum") == k, F.lit(v)).otherwise(w)
    toks = F.size(F.split(F.col("text"), " ")).cast("long")
    base = docs.select(
        F.col(strata).alias("stratum"),
        "doc_id",
        toks.alias("n_tokens"),
        sample_hash_col().alias("_h"),
    )
    counts = (
        base.groupBy("stratum")
        .agg(F.sum("n_tokens").alias("_t"))
        .withColumn("_w", w.cast("long"))
    )
    lam = counts.select(F.min(F.expr("(_t * 1000) div _w")).alias("_lam"))
    quota = counts.crossJoin(F.broadcast(lam)).select(
        "stratum", F.expr("(_lam * _w) div 1000").alias("quota_tokens")
    )
    win = Window.partitionBy("stratum").orderBy(
        F.col("_h").asc(), F.col("doc_id").asc()
    )
    ranked = base.withColumn(
        "cum_tokens",
        F.sum("n_tokens").over(
            win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        ranked.join(F.broadcast(quota), "stratum")
        # keep iff the doc STARTS inside the quota (boundary doc whole)
        .filter(F.col("cum_tokens") - F.col("n_tokens") < F.col("quota_tokens"))
        .select("stratum", "doc_id", "n_tokens", "cum_tokens", "quota_tokens")
    )


def quality_gate(docs: DataFrame) -> DataFrame:
    """Quality-proportional retention: keep a document with
    probability equal to its composite quality score — realized
    deterministically as hash(doc_id) mod 1000 < round(score * 1000).
    The standard curation move between hard filtering (loses volume)
    and keeping everything (keeps noise); deterministic, so the
    kept set is reproducible and oracle-replayable.  Zero shuffle on
    top of the quality-feature projection."""
    from .textstats import quality_scores

    q = quality_scores(docs).select("doc_id", "quality_score")
    thr = F.round(F.col("quality_score") * 1000, 0).cast("long")
    return (
        q.withColumn("sample_bucket", sample_hash_col())
        .withColumn("keep_threshold", thr)
        .filter(F.col("sample_bucket") < F.col("keep_threshold"))
    )


def zscore_standardize(
    events: DataFrame, key: str = "user_id", value: str = "value"
) -> DataFrame:
    """Per-key z-score feature standardization — the vanilla ML-prep
    normalization. Grouped mean/stddev (algebraic, map-side partial)
    broadcast back onto the rows via an equi join; single-row and
    zero-variance groups yield NULL (sample stddev undefined/zero),
    identically on both engines.

    Hash-exact construction (ORACLE_DISCIPLINE rules 1/3/4b): the
    measurements are exact cents, so the sufficient statistics
    (n, S=sum, Q=sum of squares) are exact BIGINTs; z is then ONE
    shared double expression tree over exact integers — bit-identical
    across engines — emitted as a portable half-up 1e6-scaled BIGINT.
    S/Q stay below 2^53 for ~1e9 rows x $500 per key; at corpus scale
    move Q to DECIMAL(38,0)."""
    vc = (F.col(value).cast("decimal(18,2)") * 100).cast("long")
    with_c = events.withColumn("_vc", vc)
    stats = with_c.groupBy(key).agg(
        F.count("_vc").alias("_n"),
        F.sum("_vc").alias("_s"),
        F.sum(F.col("_vc") * F.col("_vc")).alias("_q"),
    )
    n = F.col("_n").cast("double")
    s = F.col("_s").cast("double")
    q = F.col("_q").cast("double")
    var = (q - s * s / n) / (n - F.lit(1.0))
    z = (F.col("_vc").cast("double") - s / n) / F.sqrt(var)
    zs = z * F.lit(1000000)
    z_x1e6 = F.when(
        (F.col("_n") >= 2)
        & (F.col("_n") * F.col("_q") > F.col("_s") * F.col("_s")),
        F.when(z >= 0, F.floor(zs + F.lit(0.5))).otherwise(
            -F.floor(-zs + F.lit(0.5))
        ),
    ).cast("long")
    return with_c.join(stats, key).select(
        key,
        "event_id",
        F.col("_vc").alias("x_c"),
        z_x1e6.alias("z_x1e6"),
    )


def class_weights(labeled: DataFrame, label: str = "label") -> DataFrame:
    """Inverse-frequency class weights (sklearn's 'balanced'
    convention: n / (n_classes * count_c)) — what a training loop
    feeds its loss to correct class imbalance. One count aggregate
    plus a broadcast 1-row total; exact integer arithmetic until the
    final division."""
    counts = labeled.groupBy(label).agg(F.count(F.lit(1)).alias("n_c"))
    tot = counts.agg(
        F.sum("n_c").alias("n"), F.count(F.lit(1)).alias("n_classes")
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        label,
        "n_c",
        # raw ratio; portable-wrapped by the catalog entry (rule 4)
        (F.col("n") / (F.col("n_classes") * F.col("n_c"))).alias("weight"),
    )


# --- priority sampling ---------------------------------------------------
PRIORITY_SAMPLE_N = 100
PRIORITY_SALT = 54321


def priority_sample(
    docs: DataFrame,
    n: int = PRIORITY_SAMPLE_N,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted sample without replacement via priority sampling
    (Duffield/Lund/Thorup: priority = w/u, keep the top-n): heavy
    documents are near-certain picks, light ones keep a
    weight-proportional chance — the standard one-pass budgeted
    corpus subset.

    u is a deterministic integer hash of the id mapped into (0, 1],
    so the draw is reproducible, repartition-stable, and
    oracle-replayable; priority = w * P / h is a single IEEE
    division, bit-identical across engines.  The top-n is a
    TakeOrdered (per-partition heap + merge of n-row heads), never a
    global sort.
    """
    h = (F.col(id_col) * C.SIMHASH_A + PRIORITY_SALT) % C.FP_P + 1
    priority = F.col(weight_col).cast("double") * float(C.FP_P) / h
    return (
        docs.select(
            F.col(id_col),
            F.col(weight_col).alias("weight"),
            priority.alias("_pri"),
        )
        .orderBy(F.desc("_pri"), F.asc(id_col))
        .limit(n)
        # raw priority; portable-wrapped by the catalog entry (rule 4)
        .select(id_col, "weight", F.col("_pri").alias("priority"))
    )
