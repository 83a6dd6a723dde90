"""Text / language operators (SURVEY.md §2.8).

The reference's text pipeline (locationTopicModelTopology):
language-detect -> tokenize -> stem -> dictionary-encode
(TweetIndexBolt.java:143-192). Everything here stays JVM-side
(regexp/broadcast-join built-ins); stemming is a deterministic
rule-based suffix stripper that is also SQL-expressible
(oracle-checkable). The reference's Snowball stemmer lives in the
reference-fidelity tier, :mod:`.text_reference`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# X2 — word tokenizer. The reference tokenizes with an emoticon class,
# numbers, and `[#@]?word` incl. accents/apostrophes, stripping URLs
# and punctuation (bytecode: ckling.text.Text#getTerms). This public
# re-expression keeps the `[#@]?word` core; the full emoticon class is
# fixture territory (seeded library behaviour, SURVEY.md §7.3).
TOKEN_PATTERN = r"[#@]?[A-Za-zÀ-ÖØ-öø-ÿ][A-Za-zÀ-ÖØ-öø-ÿ'']*"

# X3 — English stopword subset (the reference embeds full en/de lists
# in the jar; disabled in the Storm path, TweetIndexBolt.java:174).
EN_STOPWORDS = (
    "a an and are as at be by for from has he in is it its of on that the to was were will with".split()
)

# X1 — marker words for the heuristic n-gram language scorer.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "es": ("el", "la", "los", "las", "es", "y", "que"),
    "fr": ("le", "la", "les", "et", "est", "que"),
}


def tokenize(df: DataFrame, text_col: str = "text", out_col: str = "tokens") -> DataFrame:
    """X2 — regex token stream as an array column (JVM regexp, no UDF).

    Reference: ckling.text.Text#getTerms [bytecode].
    """
    return df.withColumn(
        out_col, F.expr(f"regexp_extract_all({text_col}, '{TOKEN_PATTERN}', 0)")
    )


def remove_stopwords(
    tokens: Column, stopwords: tuple[str, ...] = tuple(EN_STOPWORDS)
) -> Column:
    """X3 — drop stopword tokens from an array column.

    Reference: ckling.text.Text stopword constants [bytecode].
    ``filter`` is a higher-order function — no shuffle, no UDF.
    """
    lit_stops = F.array(*[F.lit(s) for s in stopwords])
    return F.filter(tokens, lambda t: ~F.array_contains(lit_stops, F.lower(t)))


def drop_short_tokens(tokens: Column, min_len: int = 2) -> Column:
    """P14 — drop tokens shorter than ``min_len`` (reference drops
    single-char words, LocationTopicModelTrainer.java:193-207)."""
    return F.filter(tokens, lambda t: F.length(t) >= min_len)


# X4 rules, applied in order: (anchored pattern, replacement). Each
# pattern carries its own min-stem-length guard, so a rule is ONE
# regexp_replace that references its input once — the expression
# stays linear in the number of rules (a when(rlike)/otherwise chain
# re-references the token per rule and grows geometrically).
# ``(?<![sui])`` keeps the plural rule off -ss/-us/-is endings without
# widening ``.`` to line terminators, which ``[^sui]`` would match.
STEM_RULES = (
    (r"^(.{4,})ies$", "$1y"),
    (r"^(.{4,})sses$", "$1ss"),
    (r"^(.{3,}(?<![sui]))s$", "$1"),
    (r"^(.{5,})ing$", "$1"),
    (r"^(.{5,})ed$", "$1"),
)


def stem_rule_based(token: Column) -> Column:
    """X4 — suffix-stripping stemmer in pure SQL expressions:
    plural/-ing/-ed with a min-stem-length guard (:data:`STEM_RULES`).

    The reference uses the Snowball (tartarus) stemmer [bytecode:
    ckling.text.Text], reproduced in :mod:`.text_reference`; this
    rule-based variant exists so the stemming stage has an exact
    cross-engine oracle.
    """
    t = F.lower(token)
    for pattern, replacement in STEM_RULES:
        t = F.regexp_replace(t, pattern, replacement)
    return t


def language_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """X1 — deterministic marker-word language scorer.

    The reference uses the cybozu langdetect n-gram Naive Bayes
    (seeded-random; TweetIndexBolt.java:95-125) — fixture territory.
    This engine ships a deterministic heuristic with the same
    operator shape (score per language, argmax, keep-en filter) so
    the stage is oracle-checkable; swap in a pinned langdetect pandas
    UDF for bug-compatible fixtures.
    """
    toks = F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)")
    out = df
    for lang, markers in LANG_MARKERS.items():
        marker_arr = F.array(*[F.lit(m) for m in markers])
        out = out.withColumn(
            f"score_{lang}", F.size(F.filter(toks, lambda t: F.array_contains(marker_arr, t)))
        )
    score_cols = [F.col(f"score_{lang}") for lang in LANG_MARKERS]
    best = F.greatest(*score_cols)
    pred = F.lit("unknown")
    for lang in reversed(list(LANG_MARKERS)):
        pred = F.when(
            (F.col(f"score_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return out.withColumn("lang_pred", pred)


def keep_language(df: DataFrame, lang: str = "en") -> DataFrame:
    """X1 filter step — keep only messages detected as ``lang``
    (reference keeps `en` only, TweetIndexBolt.java:154-169)."""
    if "lang_pred" not in df.columns:
        df = language_scores(df)
    return df.filter(F.col("lang_pred") == lang)


def build_dictionary(df: DataFrame, token_col: str = "token") -> DataFrame:
    """X5 support — corpus dictionary (word -> dense id), ranked by
    (frequency desc, word) for determinism. The reference loads a
    pre-built wordmap (S12); building one is the batch analog.

    Ranking goes through :func:`..scale.dedup.distributed_rank` —
    range-partitioned two-phase rank, no single-partition window —
    so an open-vocabulary 100 TB corpus ranks without a funnel.
    """
    from ..scale.dedup import distributed_rank

    counts = df.groupBy(token_col).agg(F.count(F.lit(1)).alias("_freq"))
    ranked = distributed_rank(
        counts, F.col("_freq").desc(), F.col(token_col), rank_col="id"
    )
    return ranked.withColumn("id", F.col("id") - 1).drop("_freq")


def encode_terms(
    df: DataFrame,
    dictionary: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "token",
    pos_col: str = "pos",
) -> DataFrame:
    """X5 — keep dictionary terms (semi-join via inner broadcast
    join), map to ids, and space-join them preserving term order.

    Reference: TweetIndexBolt.java:176-186 (J4 + X5).
    """
    joined = df.join(F.broadcast(dictionary), token_col, "inner")
    return (
        joined.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col(pos_col), F.col("id")))),
                    lambda s: s.getField("id").cast("string"),
                ),
                " ",
            ).alias("token_ids")
        )
    )
