"""Structured Streaming encode: micro-batch ingestion into the page store.

The reference is a one-shot file encoder with no streaming surface
(SURVEY.md §1.2); its incremental story is the resume DB. The streaming
analog keeps that shape: each micro-batch of new docs is encoded with the
SAME deterministic batch pipeline (content-addressed groups + lineage), and
appended to the store — so a doc that re-appears in a later batch (late /
duplicate data) re-encodes byte-identically, and a crashed stream restarts
from Spark's checkpoint plus our lineage without re-searching finished
groups. foreachBatch is the right primitive because the encode is a
batch-deterministic function of content, not of stream time — no
watermarks or stateful operators are needed (nothing in the semantics
depends on event time)."""

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
    """Start a streaming query writing encoded pages to ``root``.

    ``stream_df`` must be a streaming DataFrame with the tokens schema
    (doc_id, tokens, n_tok, source). Duplicate docs across batches append
    (dedup is upstream policy); lineage hits occur when identical GROUP
    content re-appears — checkpoint replay after a crash, or a full
    re-ingest — since content hashes are group-level, not per-doc."""
    from ..engine import encode_table
    from ..sources.store import (
        append_lineage,
        maybe_compact_lineage,
        read_lineage,
        write_pages,
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        lineage = read_lineage(spark, root)
        # two writes read the pages: persist them so the batch is encoded
        # once, for the page write, and the lineage reads the cached rows
        pages = encode_table(batch_df, config, lineage=lineage).persist()
        try:
            write_pages(pages, root, mode="append")
            append_lineage(pages, root, config)
        finally:
            pages.unpersist()
        # an always-on stream appends lineage every micro-batch forever;
        # keep the resume table content-bounded (one row per live key and
        # group id, the StatsDB shape) via the same shared trigger as the
        # batch path
        maybe_compact_lineage(root, spark)

    writer = stream_df.writeStream.foreachBatch(process_batch).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
