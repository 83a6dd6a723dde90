"""Text-analysis operators: quality scoring, token counting,
document fingerprinting.

(Language-ID lives in ``ops.text.language_scores`` — X1.)

Everything here is whole-stage-codegen-friendly: built-in string /
array expressions only, no Python UDFs, so the operators run
JVM-side at full scan speed on the 100 TB path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import constants as C
from ..session import release_local_checkpoint
from .dedup import doc_tids


def quality_scores(docs: DataFrame) -> DataFrame:
    """Per-document quality features + composite score in [0, 1]:

    - n_tokens, avg token length
    - stopword ratio (signal of natural language vs. noise)
    - alpha ratio (alphabetic chars / all chars)

    score = 0.25*min(n_tokens/100,1) + 0.25*min(stop_ratio*4,1)
          + 0.25*alpha_ratio + 0.25*min(avg_len/8,1), rounded 4dp.
    """
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    stop = F.size(
        F.filter(toks, lambda t: F.lower(t).isin(*C.STOPWORDS))
    )
    alpha_chars = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", ""))
    avg_len = (F.length("text") - (n_tokens - 1)) / n_tokens  # chars minus spaces
    stop_ratio = stop / n_tokens
    # empty text would divide by zero (ANSI Spark THROWS, killing the
    # whole job on one bad document — found by a NULL/empty-corpus
    # probe); an empty doc has no defined alpha ratio -> NULL, which
    # propagates into the composite score on both engines
    alpha_ratio = F.when(
        F.length("text") > 0, alpha_chars / F.length("text")
    )
    score = (
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.25
        + F.least(stop_ratio * 4, F.lit(1.0)) * 0.25
        + alpha_ratio * 0.25
        + F.least(avg_len / 8, F.lit(1.0)) * 0.25
    )
    # RAW doubles, no inner builtin round: every ratio is a single
    # division of exact ints (bit-identical cross-engine), and builtin
    # round(x, K>0) diverges between engines exactly at representable
    # ties (rule 4 / the r5 ts_monthly_trend fuzzer find).  The catalog
    # entries ship these through the portable half-up wrap instead.
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        avg_len.alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        score.alias("quality_score"),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Three token-count estimators per document:

    - ws_tokens:   whitespace split count
    - word_tokens: regex word count ([A-Za-z]+ runs)
    - subword_est: BPE-ish upper bound Σ ceil(len(word)/4)
    """
    toks = F.split(F.col("text"), " ")
    words = F.expr("regexp_extract_all(text, '[A-Za-z]+', 0)")
    subword = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.ceil(F.length(w) / F.lit(float(C.SUBWORD_CHUNK))).cast("long"),
    )
    return docs.select(
        "doc_id",
        F.size(toks).alias("ws_tokens"),
        F.size(words).alias("word_tokens"),
        subword.alias("subword_est"),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fingerprint): order-sensitive rolling polynomial hash
    over the dictionary-encoded token stream:

        fp = fold(tids, 0, (acc, t) -> (acc*31 + t) mod FP_P)

    Detects exact sequence matches (and is the building block for
    content-defined chunk fingerprints). Left fold == DuckDB
    list_reduce with a prepended 0 seed.  Token ids are the char hash
    (a pure per-row function), so the id arrays form in the scan
    stage (:func:`doc_tids`), with no explode or groupBy."""
    ids = doc_tids(docs)
    fp = F.aggregate(
        F.col("tids"),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * C.FP_MULT + t) % C.FP_P,
    )
    return ids.select("doc_id", fp.alias("fingerprint"))


TFIDF_TOP_TERMS = 3


def tfidf_top_terms(docs: DataFrame, top: int = TFIDF_TOP_TERMS) -> DataFrame:
    """Top-``top`` terms per document by tf-idf:
    (doc_id, term, tf, df, score), score = tf * ln((N+1)/(df+1))
    rounded 6dp; rank ties broken by term asc on the ROUNDED score so
    the selection is deterministic across engines.

    Three aggregations, all key-partitioned: term counts per doc
    (shuffle on (doc, term), map-side combined), document frequency
    per term (shuffle on term), and a per-doc top-k window (shuffle
    on doc).  The corpus size N is a 1-row broadcast; the df table
    joins back on term — at 100 TB that join is the big one and is a
    plain hash equi-join, AQE-splittable on hot terms (stopwords).
    """
    terms = docs.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).alias("_n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * F.log((F.col("_n") + 1) / (F.col("df") + 1)),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


def token_entropy(docs: DataFrame, strata: str = "lang") -> DataFrame:
    """Unigram token-distribution entropy per stratum:
    H = ln(N) - sum(c * ln c) / N over the stratum's token counts —
    the corpus-diversity metric data-curation passes track (a
    collapsed/templated slice shows anomalously low H).

    Two partial-aggregated shuffles: (stratum, token) counts, then a
    per-stratum fold of c*ln(c).  The identity form avoids computing
    per-token probabilities (no second join against the total)."""
    toks = docs.select(
        F.col(strata).alias("stratum"),
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("token"),
    )
    counts = toks.groupBy("stratum", "token").agg(
        F.count(F.lit(1)).alias("c")
    )
    return counts.groupBy("stratum").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.round(
            F.log(F.sum("c")) - F.sum(F.col("c") * F.log("c")) / F.sum("c"),
            6,
        ).alias("entropy"),
    )


def repetition_signals(docs: DataFrame) -> DataFrame:
    """Gopher-style within-document repetition signals, per doc:

    - top_word_share:      count of the most frequent word / n_words
    - distinct_word_ratio: distinct words / n_words
    - dup_bigram_frac:     1 - distinct bigrams / total bigrams

    High repetition flags templated / degenerate text that slips past
    length and stopword gates.  The bigram stats are pure in-array
    expressions (zero shuffle); the word-frequency stats come from one
    (doc_id, word)-keyed count whose second-level rollup and the final
    join are all doc-keyed — no global aggregation anywhere, so the
    plan is embarrassingly key-parallel at corpus scale.
    """
    # materialize the token array once: element_at(<expr>, i) inside a
    # transform lambda re-evaluates the regexp per element (O(len^2)
    # regex executions per doc) — project it to a column first
    base = docs.select(
        "doc_id",
        F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)").alias("_ws"),
    )
    words = F.col("_ws")
    bigr = F.when(
        F.size(words) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(words, i), F.element_at(words, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    barr = base.select(
        "doc_id",
        F.size(bigr).alias("n_bigrams"),
        F.size(F.array_distinct(bigr)).alias("_ndb"),
    )
    wstats = (
        base.select("doc_id", F.explode(words).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct_words"),
            F.max("c").alias("_top"),
        )
    )
    return wstats.join(barr, "doc_id").select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        F.round(F.col("_top") / F.col("n_words"), 4).alias("top_word_share"),
        F.round(F.col("n_distinct_words") / F.col("n_words"), 4).alias(
            "distinct_word_ratio"
        ),
        F.when(
            F.col("n_bigrams") > 0,
            F.round(1.0 - F.col("_ndb") / F.col("n_bigrams"), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_frac"),
    )


BOILER_NGRAM = 3
BOILER_MIN_DOCS = 2
# 2^31-1 (Mersenne prime): gram-key space for boilerplate document
# frequency — fold stays < 2^36 + 2^31 (no BIGINT overflow in DuckDB)
BOILER_HASH_P = 2_147_483_647


def boilerplate_coverage(
    docs: DataFrame, n: int = BOILER_NGRAM, min_docs: int = BOILER_MIN_DOCS
) -> DataFrame:
    """C4-style boilerplate detection over word ``n``-grams: an n-gram
    is *boilerplate* if it occurs in >= ``min_docs`` distinct
    documents; per doc, report how much of its text those shared spans
    cover — (doc_id, n_grams, n_boiler, boiler_frac).

    N-gram generation is the zero-shuffle in-array slice; the document
    frequency is a per-doc-distinct + map-side-combined count on the
    n-gram key, and the probe back is an n-gram-keyed hash join (the
    boilerplate set is tiny next to the corpus — at 100 TB it would be
    a precomputed broadcast/bucketed table, same shape as the
    incremental-dedup index).

    The shuffled gram key is the 8-byte polynomial FOLD of the words'
    char hashes, not the joined string (~8x less shuffle volume and a
    long-vs-long group compare), over a 2^31-1 space — wide enough
    that document-frequency counts are not inflated by bucket
    collisions at bench scale (SHINGLE_P's ~1e6 space would alias
    ~2.4 grams/bucket here and mark phantom boilerplate). The DuckDB
    oracle computes the identical fold, so any residual collision
    merges the same grams on both engines — parity is exact by
    construction, not probabilistic.
    """
    from .dedup import char_hash_tid

    words = F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
    # project the char-hash array into a COLUMN before the gram
    # lambdas index it — element_at over the raw transform expression
    # would re-run the char fold per gram position (the round-1 PMI
    # lesson, BASELINE.md)
    hashed = docs.select(
        "doc_id",
        F.transform(
            words, lambda w: char_hash_tid(w, p=BOILER_HASH_P)
        ).alias("tids"),
    )

    def gram_at(ts, i):
        acc = F.element_at(ts, i).cast("long")
        for k in range(1, n):
            acc = acc * C.FP_MULT + F.element_at(ts, i + k)
        return acc % BOILER_HASH_P

    grams = F.when(
        F.size("tids") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("tids") - (n - 1)),
            lambda i: gram_at(F.col("tids"), i),
        ),
    ).otherwise(F.array().cast("array<long>"))
    # build and probe read the same gram stream: tokenize once (sf0.1
    # A/B: +36% without the pin)
    pos = hashed.select("doc_id", F.explode(grams).alias("g")).localCheckpoint(
        eager=False
    )
    boiler = (
        pos.distinct()
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("g", F.lit(1).alias("_b"))
    )
    return (
        pos.join(boiler, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("_b").alias("n_boiler"),
            F.round(F.count("_b") / F.count(F.lit(1)), 4).alias(
                "boiler_frac"
            ),
        )
    )


PMI_MIN_COUNT = 5
PMI_TOP_K = 20


def pmi_bigrams(
    docs: DataFrame, min_count: int = PMI_MIN_COUNT, k: int = PMI_TOP_K
) -> DataFrame:
    """Top-``k`` bigram collocations by pointwise mutual information:
    PMI = ln(c_ab * N / (c_a * c_b)) over adjacent word pairs, with a
    ``min_count`` support floor (PMI is noise below it) — the classic
    phrase-mining / tokenizer-merge-candidate signal.

    Bigram generation is a zero-shuffle array transform (no
    positional self-join): each doc's token array maps to its
    adjacent pairs in place.  The corpus is scanned ONCE: only the
    bigram count c_ab aggregates the exploded pairs; the left/right
    unigram counts and N are re-aggregations of that (vocab²-bounded,
    locally checkpointed) count table — `c_a = Σ c_ab group by w1`
    etc. — so at 100 TB the tokenize+explode pass isn't repeated per
    marginal.
    N (total bigram count) is a 1-row broadcast.  Ranked on the
    ROUNDED score (ties: bigram asc) for cross-engine determinism.
    """
    # project the token array before indexing it: element_at over the
    # raw regexp expression would re-run the regex per element
    base = docs.select(
        F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)").alias("_ws")
    )
    words = F.col("_ws")
    pairs = F.when(
        F.size(words) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - 1),
            lambda i: F.struct(
                F.element_at(words, i).alias("w1"),
                F.element_at(words, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    big = base.select(F.explode(pairs).alias("p")).select("p.w1", "p.w2")
    # the count table feeds the filter, both marginals and N (sf0.1
    # A/B: +48% without the pin)
    c_ab = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .localCheckpoint(eager=False)
    )
    c_a = c_ab.groupBy("w1").agg(F.sum("c_ab").alias("c_a"))
    c_b = c_ab.groupBy("w2").agg(F.sum("c_ab").alias("c_b"))
    n = c_ab.select(F.sum("c_ab").alias("_n"))
    return (
        c_ab.filter(F.col("c_ab") >= min_count)
        .join(c_a, "w1")
        .join(c_b, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "c_ab",
            F.round(
                F.log(
                    F.col("c_ab")
                    * F.col("_n")
                    / (F.col("c_a") * F.col("c_b"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(k)
    )


def unigram_lm_scores(docs: DataFrame) -> DataFrame:
    """Per-document mean log-probability under the corpus unigram LM
    (the CCNet/KenLM-style quality-filter signal: implausibly low
    scorers are gibberish, implausibly high are boilerplate).

    p(t) = c(t)/total over the whole corpus; a doc's score is
    sum(tf * (ln c - ln total)) / n_tokens. Same plan family as
    tf-idf: map-side-combined (doc, token) counts, hash join against
    the token-frequency table (AQE splits stopword-hot keys), one
    broadcast 1-row total. The identity ln(c/total) = ln c - ln total
    avoids a per-token division before the log.
    """
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("token"),
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    corpus = tf.groupBy("token").agg(F.sum("tf").alias("c"))
    total = corpus.agg(F.sum("c").alias("total"))
    return (
        tf.join(corpus, "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            # DECIMAL term sum: exact, partition-order-independent reduction
            F.round(
                F.sum(
                    (F.col("tf") * (F.log("c") - F.log("total"))).cast("decimal(27,12)")
                ).cast("double")
                / F.sum("tf"),
                6,
            ).alias("mean_logp"),
        )
    )


COOC_WINDOW = 5
COOC_MIN_COUNT = 20
POSTINGS_CAP = 10


def cooccurrence(
    docs: DataFrame,
    window: int = COOC_WINDOW,
    min_count: int = COOC_MIN_COUNT,
) -> DataFrame:
    """Windowed term co-occurrence counts: every unordered word pair
    within ``window`` positions of each other, with event count and
    document frequency — the raw statistic behind word-association /
    topic-coherence / embedding-evaluation (word2vec SGNS trains on
    exactly these pairs).

    Pair generation is a zero-shuffle nested array transform (no
    positional self-join — a per-doc join would be quadratic in the
    hot partition): each doc maps to its in-window pairs in place,
    normalized wa < wb so unordered pairs collapse; one explode, one
    partial-aggregated groupBy.  Output is vocab²-bounded and pruned
    by ``min_count`` before leaving the aggregation.
    """
    words = F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
    docs2 = docs.select("doc_id", words.alias("_ws"))
    ws = F.col("_ws")
    pairs = F.when(
        F.size(ws) >= 2,
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.size(ws) - 1),
                lambda i: F.transform(
                    F.sequence(
                        F.lit(1), F.least(F.lit(window), F.size(ws) - i)
                    ),
                    lambda d: F.struct(
                        F.least(
                            F.element_at(ws, i), F.element_at(ws, i + d)
                        ).alias("wa"),
                        F.greatest(
                            F.element_at(ws, i), F.element_at(ws, i + d)
                        ).alias("wb"),
                    ),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<struct<wa:string,wb:string>>"))
    ex = (
        docs2.select("doc_id", F.explode(pairs).alias("p"))
        .filter(F.col("p.wa") != F.col("p.wb"))
        .select("doc_id", "p.wa", "p.wb")
    )
    return (
        ex.groupBy("wa", "wb")
        .agg(
            F.count(F.lit(1)).alias("n_cooc"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_cooc") >= min_count)
    )


def inverted_index(docs: DataFrame, cap: int = POSTINGS_CAP) -> DataFrame:
    """Inverted index over the corpus: per term, document frequency,
    collection frequency, and the first ``cap`` posting doc_ids
    (ascending, comma-joined) — the search-engine / contamination-
    lookup primitive.

    One tokenize scan, one groupBy term.  The postings list is the
    one genuinely list-valued aggregate here; at 100 TB the full
    (uncapped) index would be written bucketed by term
    (``scale.layout.write_bucketed``) so probe joins are
    shuffle-free, and hot terms (stopword-scale df) belong behind
    the ``heavy_hitters`` prune first — the cap keeps this catalog
    query's output bounded either way.
    """
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("term"),
    )
    return toks.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"),
        F.count(F.lit(1)).alias("cf"),
        F.concat_ws(
            ",",
            F.transform(
                F.slice(F.array_sort(F.collect_set("doc_id")), 1, cap),
                lambda x: x.cast("string"),
            ),
        ).alias("postings"),
    )


def readability(docs: DataFrame) -> DataFrame:
    """Flesch-reading-ease-style readability per document, from three
    integer counts (words = [a-z]+ runs, sentences = [.!?]+ runs
    floored at 1, syllables ~= [aeiouy]+ vowel groups):

        score = 206.835 - 1.015*(words/sentences) - 84.6*(syll/words)

    The classic fast quality gate for prose vs. listings/tables/code.
    Pure regexp counts + one float expression — codegen'd, zero
    shuffle, identical arithmetic in the oracle.

    Rounding is boundary-proof: the score is assembled as one exact
    BIGINT rational (N / (1000*s*w)), scaled to 4 dp in a single
    shared double expression, and half-up-rounded with an explicit
    floor — the builtin ``round()`` differs between engines exactly
    at 4-dp boundaries (Spark re-expands the double via BigDecimal,
    DuckDB scales it), which flipped 5/5000 rows at sf0.1."""
    w = F.size(F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).cast(
        "long"
    )
    s = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
    ).cast("long")
    y = F.size(
        F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
    ).cast("long")
    base = docs.filter(w > 0).select(
        "doc_id",
        w.alias("n_words"),
        s.alias("n_sentences"),
        y.alias("n_syllables"),
    )
    wc, sc, yc = F.col("n_words"), F.col("n_sentences"), F.col("n_syllables")
    num = 206835 * sc * wc - 1015 * wc * wc - 84600 * yc * sc
    x = F.lit(10.0) * num / (sc * wc)  # score * 1e4, bit-identical
    half_up = F.when(x >= 0, F.floor(x + 0.5)).otherwise(
        -F.floor(-x + 0.5)
    )
    return base.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        (half_up / 10000.0).alias("flesch"),
    )


BIGRAM_LM_LAMBDA_PCT = 50  # interpolation weight for the conditional, in %


def bigram_lm_scores(docs: DataFrame) -> DataFrame:
    """Per-document mean log-probability under an interpolated corpus
    bigram LM:

        p(w2 | w1) = lam * c12/c1 + (1-lam) * c2/T      (lam = 0.5)

    where c12/c1/c2/T all come from ONE bigram count table (c1 =
    bigrams starting with w1, c2 = bigrams ending with w2, T = all
    bigrams) — the corpus is scanned once, the marginals are
    re-aggregations, exactly the pmi_bigrams plan family.  Compared
    to the unigram score this also penalizes shuffled/templated word
    salad whose unigram profile looks natural.  Scale: two hash
    joins against vocab/vocab²-bounded tables (AQE splits stopword-
    hot keys), one 1-row broadcast total."""
    lam = BIGRAM_LM_LAMBDA_PCT / 100.0
    base = docs.select(
        "doc_id",
        F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)").alias("_ws"),
    )
    words = F.col("_ws")
    pairs = F.when(
        F.size(words) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - 1),
            lambda i: F.struct(
                F.element_at(words, i).alias("w1"),
                F.element_at(words, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    doc_pairs = (
        base.select("doc_id", F.explode(pairs).alias("p"))
        .groupBy("doc_id", "p.w1", "p.w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # the count table feeds the join, both marginals and the total
    # (sf0.1 A/B: +43% without the pin)
    c_ab = (
        doc_pairs.groupBy("w1", "w2")
        .agg(F.sum("cnt").alias("c12"))
        .localCheckpoint(eager=False)
    )
    c_1 = c_ab.groupBy("w1").agg(F.sum("c12").alias("c1"))
    c_2 = c_ab.groupBy("w2").agg(F.sum("c12").alias("c2"))
    t = c_ab.select(F.sum("c12").alias("_t"))
    logp = F.log(
        F.lit(lam) * F.col("c12") / F.col("c1")
        + F.lit(1.0 - lam) * F.col("c2") / F.col("_t")
    )
    return (
        doc_pairs.join(c_ab, ["w1", "w2"])
        .join(c_1, "w1")
        .join(c_2, "w2")
        .crossJoin(F.broadcast(t))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            # DECIMAL term sum: exact, partition-order-independent reduction
            F.round(
                F.sum((F.col("cnt") * logp).cast("decimal(27,12)")).cast("double")
                / F.sum("cnt"),
                6,
            ).alias("mean_logp"),
        )
    )


def gopher_quality(docs: DataFrame) -> DataFrame:
    """Gopher/MassiveText-style document quality rules, distributed.

    Per document: word count, distinct-word count, modal-word count,
    mean word length, required-stopword hits, and the derived keep
    flag (all bounds in ``constants``). Everything on the output is
    an exact integer — ratios are positive-domain integer division
    scaled x1e4 (Spark ``DIV`` == DuckDB ``//`` for positives), so
    the whole row is hash-exact across engines.

    Scale shape: one explode over the token stream, then two
    map-side-combinable aggregations ((doc_id, tok) then doc_id) —
    the same two-shuffle plan regardless of corpus size; no arrays
    are ever collected per group.
    """
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    per_tok = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("n"))
    agg = per_tok.groupBy("doc_id").agg(
        F.sum("n").alias("n_words"),
        F.count(F.lit(1)).alias("n_unique"),
        F.max("n").alias("max_word_n"),
        F.sum(F.length("tok") * F.col("n")).alias("n_word_chars"),
        F.sum(
            F.when(F.col("tok").isin(*C.GOPHER_STOPWORDS), F.lit(1)).otherwise(
                F.lit(0)
            )
        ).alias("stop_hits"),
    )
    mean_wlen = F.expr("(n_word_chars * 10000) DIV n_words")
    uniq_frac = F.expr("(n_unique * 10000) DIV n_words")
    top_frac = F.expr("(max_word_n * 10000) DIV n_words")
    out = agg.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_unique").cast("long").alias("n_unique"),
        F.col("max_word_n").cast("long").alias("max_word_n"),
        F.col("stop_hits").cast("long").alias("stop_hits"),
        mean_wlen.cast("long").alias("mean_wlen_x1e4"),
        uniq_frac.cast("long").alias("unique_frac_x1e4"),
        top_frac.cast("long").alias("top_frac_x1e4"),
    )
    keep = (
        (F.col("n_words") >= C.GOPHER_MIN_WORDS)
        & (F.col("mean_wlen_x1e4") >= C.GOPHER_MEAN_WLEN_MIN_X1E4)
        & (F.col("mean_wlen_x1e4") <= C.GOPHER_MEAN_WLEN_MAX_X1E4)
        & (F.col("unique_frac_x1e4") >= C.GOPHER_UNIQUE_FRAC_MIN_X1E4)
        & (F.col("top_frac_x1e4") <= C.GOPHER_TOP_FRAC_MAX_X1E4)
        & (F.col("stop_hits") >= C.GOPHER_MIN_STOP_HITS)
    )
    return out.withColumn("keep", keep.cast("int"))


def textrank_keywords(docs: DataFrame, top: int = C.TEXTRANK_TOP_K) -> DataFrame:
    """Corpus-level TextRank keyword extraction.

    Term graph: undirected distinct adjacency edges between
    consecutive tokens (window size 2, self-loops dropped), ranked
    by the same fixed-iteration PageRank kernel as the user graph
    (``ops.graph.pagerank`` — per-round 1e-9 rounding so the oracle
    replays the identical trace). Output: the top-``top`` terms by
    (score desc, term asc) with the score as an exact x1e6 BIGINT.

    Scale shape (r8): consecutive-token pairs are built IN-ROW from
    the split array (guide §2.4 — the posexplode + per-doc lead()
    window shuffled and sorted the whole token stream just to read
    each row's right neighbor, which the array already holds); the
    only corpus-keyed move left is the edge distinct.  Each PageRank
    round is one shuffle on dst. The final top-k is a
    single-partition sort of ~vocabulary rows AFTER aggregation —
    vocabulary, not corpus, cardinality.
    """
    from ..ops import graph as G

    # materialize the split array as a projection before the lambda
    # references it (CollapseProject re-evaluation trap)
    arrs = docs.select(F.split(F.col("text"), " ").alias("_arr"))
    arr = F.col("_arr")
    adj = F.when(
        F.size(arr) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - 1),
            lambda i: F.struct(
                F.element_at(arr, i).alias("src"),
                F.element_at(arr, i + 1).alias("dst"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<src:string,dst:string>>"))
    pairs = (
        arrs.select(F.explode(adj).alias("p"))
        .where(F.col("p.src") != F.col("p.dst"))
        .select("p.src", "p.dst")
    )
    dedges = (
        pairs.union(pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        # vocabulary-cardinality frame: single partition keeps the 3
        # PageRank rounds' tiny shuffles one-task each (same move as
        # the PCA iteration frame); localCheckpoint, not persist —
        # the loop references it every round and the checkpoint
        # truncates the corpus lineage out of each round's plan
        # (the §2 graph-family A/B: persist pins partitioning and
        # suppresses exchange reuse, checkpoint does not)
        .coalesce(1)
        .localCheckpoint()
    )
    nodes = dedges.select(F.col("src").alias("node")).distinct()
    pr = G.pagerank(nodes, dedges)  # (user_id, pagerank) naming
    ranked = pr.select(
        F.col("user_id").alias("term"),
        F.round(F.col("pagerank") * 1_000_000).cast("long").alias("score_x1e6"),
    )
    wr = Window.orderBy(F.desc("score_x1e6"), F.asc("term"))
    return (
        ranked.withColumn("rank", F.row_number().over(wr).cast("int"))
        .where(F.col("rank") <= top)
        .select("rank", "term", "score_x1e6")
    )


# ---------------------------------------------------------------------------
# BPE training + application (Sennrich et al. 2016): true iterative
# merge learning — each round recounts adjacent TOKEN pairs after the
# previous merge has been applied corpus-wide
# ---------------------------------------------------------------------------

BPE_TRAIN_ROUNDS = 4

_BPE_WORDS = "regexp_extract_all(lower(text), '[a-z]+', 0)"
# Flat token-stream encoding (r8, guide §1.2 "per-task work"): each
# word's tokens separated by SINGLE spaces, words separated by DOUBLE
# spaces, sentinel spaces at both ends.  A merge pass is then one
# linear regexp_replace instead of an O(len^2) aggregate fold over
# array slices, and the per-round expression tree Catalyst must
# re-analyze/compile (the merge constants are inlined, so every round
# is a fresh plan) shrinks from a nested-lambda fold to a single
# regexp call.  Tokens are always [a-z]+ so neither separators nor
# regex metacharacters can occur inside a token.
_BPE_FLAT = (
    "concat(' ', array_join(transform(" + _BPE_WORDS + ", "
    "w -> array_join(split(w, ''), ' ')), '  '), ' ')"
)


def _bpe_merge_flat(col: str, a: str, b: str) -> str:
    """SQL expression: left-greedy single-merge pass over the flat
    encoding.  ``(?<= )a b(?= )`` matches exactly the token-boundary
    occurrences of the pair (the lookarounds are zero-width, so after
    a replacement the scan resumes ON the boundary space and an
    immediately following occurrence still matches — Java's
    left-to-right non-overlapping replace is therefore the same
    left-greedy pass as the reference fold: a fused token can never
    seed a new (a, b) adjacency within the pass, since its text is
    a||b which equals neither a's token nor b's)."""
    return f"regexp_replace({col}, '(?<= ){a} {b}(?= )', '{a}{b}')"


def _bpe_pairs_flat(arr: str) -> str:
    """SQL expression: all adjacent (a, b) token pairs of one
    document's space-split flat encoding — the empty strings produced
    by the double-space word boundaries (and the sentinels) make any
    cross-word pair contain '' and get filtered."""
    return (
        f"filter(transform(sequence(1, size({arr}) - 1), "
        f"i -> struct(element_at({arr}, i) AS a, "
        f"element_at({arr}, i + 1) AS b)), "
        f"p -> p.a != '' AND p.b != '')"
    )


def bpe_train(docs: DataFrame, rounds: int = BPE_TRAIN_ROUNDS):
    """Learn ``rounds`` BPE merges by the real iterative rule: count
    adjacent token pairs corpus-wide, take the most frequent pair
    (ties broken lexicographically), fuse it EVERYWHERE, repeat on
    the merged tokens — so later merges can pick up multi-character
    symbols produced by earlier ones, unlike the single-round
    candidate list of ``tx_bpe_merges``.

    Returns ``(merges, tokens)``: the learned ``[(a, b, n_pair)]``
    list and a frame ``(doc_id, n_words, n_chars, flat)`` holding
    each document's final token stream with all merges applied, in
    the flat single/double-space encoding (``_BPE_FLAT``).

    Scale shape: one corpus aggregation per round (in-row pair
    generation, map-side-combined counts over a tiny key space, 1-row
    argmax to the driver — the merge itself IS the model artifact);
    merge application is a pure in-row LINEAR regexp pass over the
    flat encoding (r8: was an O(len^2) per-word aggregate fold), so
    the corpus is never shuffled. Each round's token frame is
    localCheckpoint-ed: without it, round r re-executes (and Catalyst
    re-compiles) an r-deep expression chain over the raw corpus — the
    checkpoint keeps every round one shallow pass, the same
    lineage-cut move as the k-means/components kernels.
    """
    cur = docs.select(
        "doc_id",
        F.expr(f"size({_BPE_WORDS})").cast("long").alias("n_words"),
        F.expr(f"aggregate({_BPE_WORDS}, 0, (acc, w) -> acc + length(w))")
        .cast("long")
        .alias("n_chars"),
        F.expr(_BPE_FLAT).alias("flat"),
    )
    # a small corpus arrives as one scan partition; the per-row passes
    # are CPU-bound, so spread them across the executor cores
    # (at real scale the scan is already wider than this and the
    # branch is a no-op)
    par = docs.sparkSession.sparkContext.defaultParallelism
    if cur.rdd.getNumPartitions() < par:
        cur = cur.repartition(par)
    cur = cur.localCheckpoint()
    merges: list[tuple[str, str, int]] = []
    for _ in range(rounds):
        top = (
            cur.select(F.split("flat", " ").alias("arr"))
            .select(F.explode(F.expr(_bpe_pairs_flat("arr"))).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.count(F.lit(1)).alias("n_pair"))
            .orderBy(F.desc("n_pair"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, n = top[0].a, top[0].b, top[0].n_pair
        merges.append((a, b, n))
        nxt = cur.select(
            "doc_id",
            "n_words",
            "n_chars",
            F.expr(_bpe_merge_flat("flat", a, b)).alias("flat"),
        ).localCheckpoint()
        # superseded round's token-frame blocks die here — free them
        # eagerly so 20-round trains don't hold 20 corpus copies until
        # the next driver GC (VERDICT r6 #3)
        release_local_checkpoint(cur)
        cur = nxt
    return merges, cur


def bpe_train_table(docs: DataFrame, rounds: int = BPE_TRAIN_ROUNDS) -> DataFrame:
    """The learned merge table: (rank INT, merge_a, merge_b,
    n_pair BIGINT) — rank is learning order."""
    spark = docs.sparkSession
    merges, _ = bpe_train(docs, rounds)
    return spark.createDataFrame(
        [(r + 1, a, b, n) for r, (a, b, n) in enumerate(merges)],
        "rank int, merge_a string, merge_b string, n_pair bigint",
    )


def bpe_fertility(docs: DataFrame, rounds: int = BPE_TRAIN_ROUNDS) -> DataFrame:
    """Apply the learned merges and report per-document tokenizer
    stats: (doc_id, n_words, n_chars, n_tokens, fertility_x1e4)
    where fertility = tokens per character (scaled integer DIV) —
    the compression/fertility audit run before committing to a
    tokenizer at corpus scale. Documents with no alphabetic text are
    excluded (no defined fertility)."""
    _, tokens = bpe_train(docs, rounds)
    out = tokens.select(
        "doc_id",
        "n_words",
        "n_chars",
        F.expr("size(filter(split(flat, ' '), t -> t != ''))")
        .cast("long")
        .alias("n_tokens"),
    ).filter(F.col("n_chars") > 0)
    return out.select(
        "doc_id",
        "n_words",
        "n_chars",
        "n_tokens",
        F.expr("(n_tokens * 10000) DIV n_chars").cast("long").alias(
            "fertility_x1e4"
        ),
    )
