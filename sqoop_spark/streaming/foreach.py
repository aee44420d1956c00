"""Structured-Streaming front end: the CDC apply stage behind foreachBatch.

The reference is batch-only — "incremental" means repeated batch runs with a
persisted watermark (SURVEY.md §2.8). This module runs the SAME apply stage
under Structured Streaming: ``readStream`` on the change-event source →
``foreachBatch(apply)``. Spark's streaming checkpoint gives batch-id
replays after failure; the lake table's batch-id fence makes those replays
no-ops, so end-to-end exactly-once holds with BOTH mechanisms:

- Spark guarantees foreachBatch sees each epoch with a stable ``batch_id``
  (possibly re-delivered after a crash);
- the engine's fence (commit-atomic with the data) refuses the re-apply.

This is the same idempotence contract as the batch replay loop — one code
path, two schedulers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from sqoop_spark.cdc.engine import CdcEngine


def stream_apply(
    engine: CdcEngine,
    stream: DataFrame,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    query_name: str = "sqoop-spark-cdc",
    **merge_kwargs,
):
    """Attach the engine's apply stage to a streaming DataFrame.

    Returns the started StreamingQuery. ``stream`` must be a streaming
    DataFrame with the change-event columns (op, key columns, order
    column). Epoch ids from Spark's checkpoint become the engine's fencing
    batch ids — callers must dedicate one lake table per stream (epoch ids
    are per-checkpoint).

    Ordering: file-stream epochs are NOT guaranteed to follow event order.
    Use an engine with ``merge_strategy='mor'`` for out-of-order sources —
    MoR resolution is a global window over the order column, so late
    epochs (including deletes of keys not yet seen) land correctly. CoW
    applies batches against current state: stale updates are carried, but
    a delete arriving BEFORE its key's insert has nothing to tombstone and
    the late insert would resurrect the key — the same anomaly Iceberg CoW
    upserts have without retained delete files.
    """
    if stream.isStreaming and engine.merge_strategy != "mor":
        import warnings

        warnings.warn(
            "stream_apply with merge_strategy='cow' requires in-order "
            "epochs; use merge_strategy='mor' for out-of-order sources",
            stacklevel=2,
        )
    if not stream.isStreaming:
        raise ValueError("stream_apply requires a streaming DataFrame")

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        # Observations registered here complete under foreachBatch on
        # Spark 4.1 (read in about 0 s); the short metrics deadline only
        # bounds a miss, which then reads as zero counters (merge.py
        # _safe_observation).
        engine.apply_batch(
            batch_df, int(epoch_id), obs_timeout=0.5, **merge_kwargs
        )

    writer = (
        stream.writeStream.queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(apply)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
