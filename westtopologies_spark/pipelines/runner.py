"""PipelineRunner — the engine's TopologyRunner analog (SURVEY.md
§3.1/§7.1): wire a source DataFrame through a pipeline function into
a sink and submit the streaming query.

The reference's runners assemble spout -> bolts -> sink and submit a
Thrift topology (roleAnalysisTopology/.../TopologyRunner.java:165-207);
here the pipeline function declares a Catalyst plan and
``writeStream`` submits it. Fully incremental plans (stateless
transforms, a single watermarked aggregation) need no runner: they
call ``writeStream`` in append mode directly.
``run_foreach_batch`` serves pipelines whose kernel is not
incrementally computable (multi-step aggregation chains,
``applyInPandas`` scoring): it runs the BATCH pipeline per
micro-batch — the reference's per-message bolt semantics, at
micro-batch granularity, with exactly-once sinks via checkpointing.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def run_foreach_batch(
    stream_df: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    sink: Callable[[DataFrame, int], None],
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Submit a per-micro-batch pipeline: ``transform`` is the batch
    pipeline function (pure DataFrame -> DataFrame), ``sink``
    receives its result per micro-batch."""

    def body(batch_df: DataFrame, batch_id: int) -> None:
        sink(transform(batch_df), batch_id)

    w = stream_df.writeStream.foreachBatch(body)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()
