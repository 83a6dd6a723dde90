"""Ingest-time near-dup dedup: micro-batch incremental MinHash over a
continuously arriving document stream.

Per trigger, the batch pipeline runs TWO exact sub-dedups and appends
the new arrivals to the corpus index:

1. delta-vs-corpus: :func:`...scale.dedup.incremental_minhash_pairs`
   probes the accumulated corpus' per-doc shingle arrays with the new
   batch (work ∝ |delta| x bucket-hit-rate, never |corpus|²);
2. in-batch self-dedup: :func:`...scale.dedup.minhash_lsh_dedup` over
   the batch alone (two new arrivals can duplicate each other before
   either reaches the corpus).

Because MinHash signatures, band buckets and exact Jaccard are all
PER-PAIR deterministic functions of the two documents' texts (nothing
depends on which corpus a document sits in — the ``char`` encoding is
corpus-independent by construction), these two legs decompose the
full-corpus result EXACTLY: every confirmed pair (a, b) of the
one-shot batch dedup lands in leg 1 if a arrived in an earlier
trigger, leg 2 if they arrived together.  ``tests/test_streaming.py::
test_ingest_dedup_stream_decomposes_batch_dedup`` pins this.

Scale notes: the corpus index is stored as per-doc (doc_id, _sh
array) parquet — the scan-stage form (`row_shingle_arrays`), so
re-reading it never re-tokenizes; in production it is written
bucketed on doc_id (``scale.layout.write_bucketed``) and the band
table beside it, making the per-trigger probe shuffle-free on the
corpus side.  State lives entirely in the store (no unbounded
streaming state); the stream itself only carries the delta.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ..scale.dedup import (
    incremental_minhash_pairs,
    minhash_lsh_dedup,
    row_shingle_arrays,
)


def ingest_dedup_stream(
    docs_stream: DataFrame,
    corpus_dir: str,
    pairs_dir: str,
    threshold: float,
    checkpoint: str | None = None,
):
    """Run the ingest-dedup pipeline over a streaming (doc_id, text)
    frame; returns the started StreamingQuery.

    ``corpus_dir`` accumulates the per-doc shingle-array index;
    ``pairs_dir`` accumulates confirmed (doc_prior, doc_new, jaccard)
    rows, oriented corpus->delta for leg 1 and min->max id for leg 2.
    """

    def body(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.persist()
        arr_new = row_shingle_arrays(batch_df)
        out = minhash_lsh_dedup(batch_df, threshold=threshold)
        if os.path.isdir(corpus_dir) and any(
            f.endswith(".parquet") for f in os.listdir(corpus_dir)
        ):
            # the delta-vs-corpus leg probes the STORED arrays, so the
            # corpus is never re-tokenized
            corpus = spark.read.parquet(corpus_dir)
            prior = incremental_minhash_pairs(corpus, arr_new, threshold=threshold)
            out = prior.withColumnsRenamed(
                {"doc_base": "doc_a", "doc_new": "doc_b"}
            ).unionByName(out)
        out.write.mode("append").parquet(pairs_dir)
        # append AFTER the probe: this trigger's docs must not match
        # themselves through the corpus leg
        arr_new.write.mode("append").parquet(corpus_dir)
        batch_df.unpersist()

    w = docs_stream.writeStream.foreachBatch(body)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w.trigger(availableNow=True).start()
