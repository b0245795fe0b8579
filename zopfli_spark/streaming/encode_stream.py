"""Structured Streaming encode: micro-batch ingestion into the page store.

The reference is a one-shot file encoder with no streaming surface
(SURVEY.md §1.2); its incremental story is the resume DB. The streaming
analog keeps that shape: each micro-batch of new docs is encoded with the
SAME deterministic batch pipeline (content-addressed groups + lineage), and
committed to the store as an append snapshot — so a doc that re-appears in
a later batch (late / duplicate data) re-encodes byte-identically, and a
crashed stream restarts from Spark's checkpoint plus our lineage without
re-searching finished groups. foreachBatch is the right primitive because
the encode is a batch-deterministic function of content, not of stream
time — no watermarks or stateful operators are needed (nothing in the
semantics depends on event time)."""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..config import DEFAULT_CONFIG, EngineConfig


def encode_stream(
    stream_df: DataFrame,
    root: str,
    config: EngineConfig = DEFAULT_CONFIG,
    checkpoint: str | None = None,
    trigger_once: bool = False,
):
    """Start a streaming query committing encoded pages to ``root``.

    ``stream_df`` must be a streaming DataFrame with the tokens schema
    (doc_id, tokens, n_tok, source). Duplicate docs across batches append
    (dedup is upstream policy); lineage hits occur when identical GROUP
    content re-appears — a full re-ingest — since content hashes are
    group-level, not per-doc. With a ``checkpoint``, a micro-batch Spark
    replays after a crash is not appended again: each commit records
    ``{checkpoint: batch_id}`` in its manifest (store.txn_version), and a
    batch at or below the recorded id is skipped."""
    from ..sources.store import encode_and_commit, txn_version

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: a crash after our commit but before
        # Spark's replays the batch on restart. A checkpointed query records
        # its batch id in the commit (Delta's txn action) and skips a batch
        # it already committed; without a checkpoint, ids restart at 0
        if checkpoint is not None and batch_id <= txn_version(root, checkpoint):
            return
        # the emptiness probe, the planner's Σ n_tok aggregate and the
        # encode all read the batch: cache it so its source is read once
        batch_df.persist()
        try:
            if not batch_df.isEmpty():
                txn = {checkpoint: batch_id} if checkpoint is not None else None
                encode_and_commit(batch_df, root, config, append=True, txn=txn)
        finally:
            batch_df.unpersist()

    writer = stream_df.writeStream.foreachBatch(process_batch).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
