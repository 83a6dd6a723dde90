"""Pipeline 3 — locationTopicModel (SURVEY.md §3.3.3).

Reference wiring: AMQP spout -> TweetIndexBolt -> TopicModelBolt ->
RabbitMQ sink (locationTopicModelTopology/.../TopologyRunner.java:276-289).
Per message: delete/text filters (P1/P2) -> language gate (X1) ->
tokenize+stem (X2/X4) -> dictionary encode (J4/X5) -> predict (M1)
-> top-5 locations (T1) -> project (P7/P10) -> publish (S5). The
reference's batch-of-5 buffer (W2) never changes a tweet's scores, so
the batch flow scores every tweet in one Arrow pass; the cross-batch
buffer itself is ``streaming.stateful.count_batches_stream``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ops.model import LocationModel, predict_locations
from ..ops.relational import filter_deletes, filter_requires
from ..ops.text import (
    build_dictionary,
    drop_short_tokens,
    encode_terms,
    keep_language,
    stem_rule_based,
    tokenize,
)


def location_topic_model_batch(
    tweets: DataFrame,
    model: LocationModel,
    dictionary: DataFrame | None = None,
    top_k: int = 5,
    reference_fidelity: bool = False,
) -> DataFrame:
    """Full locationTopicModel flow, batch mode.

    ``tweets``: F1 rows; ``dictionary``: (word, id) wordmap (S12) —
    derived from the corpus when absent (trainer path).
    Output: F7 shape — (itinno:item_id, ukob:topic_set) with
    desc-ordered (location, probability) structs.

    ``reference_fidelity=True`` swaps the oracle-checkable text
    stages for the bug-compatible tier (:mod:`..ops.text_reference`):
    n-gram-NB language gate with drop-on-error, the exact
    ``ckling.text.Text#getTerms`` loop, and Snowball/Porter2
    stemming — TweetIndexBolt.java:143-186 semantics end to end
    (fixture-pinned in tests/test_text_reference.py).
    """
    base = filter_requires(filter_deletes(tweets), "text")
    if reference_fidelity:
        from ..ops.text_reference import keep_english_reference, tokenize_reference

        base = keep_english_reference(base)
        toked = tokenize_reference(base, "text", stem=True)
        exploded = toked.select(
            F.col("id_str").alias("item_id"),
            F.posexplode("tokens").alias("pos", "token"),
        )
    else:
        base = keep_language(base, "en")
        toked = tokenize(base)
        toked = toked.withColumn("tokens", drop_short_tokens(F.col("tokens")))
        exploded = toked.select(
            F.col("id_str").alias("item_id"),
            F.posexplode("tokens").alias("pos", "raw_token"),
        ).withColumn("token", stem_rule_based(F.col("raw_token")))
    if dictionary is None:
        dictionary = build_dictionary(exploded)
    encoded = encode_terms(exploded, dictionary, id_col="item_id")
    preds = predict_locations(encoded, model, doc_col="item_id", top_k=top_k)
    return (
        preds.groupBy(F.col("item_id").alias("itinno:item_id"))
        .agg(
            F.reverse(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("probability"),
                            F.col("location"),
                        )
                    )
                )
            ).alias("_sorted")
        )
        .withColumn(
            "ukob:topic_set",
            F.transform(
                F.col("_sorted"),
                lambda s: F.struct(
                    s.getField("location").alias("location"),
                    s.getField("probability").cast("float").alias("probability"),
                ),
            ),
        )
        .drop("_sorted")
    )
