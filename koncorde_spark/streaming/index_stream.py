"""Structured Streaming ingestion into the BM25 index.

The web-scale crawl loop: new documents arrive continuously; each
micro-batch is folded into the existing index through
``indexer.append_index`` (additive postings segments, exact top-k across
the avgdl shift). ``foreachBatch`` is the right integration point —
append_index is a batch job with its own write topology (docs append,
dlpack swap, per-shard postings append), which a streaming sink cannot
express directly, while foreachBatch hands us each micro-batch as a
plain DataFrame plus exactly-once semantics via the checkpointed batch
id AND append_index's own anti-join idempotence (a replayed batch
re-appends nothing: every doc in it is already indexed).

Usage::

    stream = (spark.readStream.schema(CORPUS_SCHEMA)
              .parquet("s3a://crawl/incoming"))
    q = stream_append(stream, "s3a://indexes/code", checkpoint="s3a://ckpt/ix")
    q.awaitTermination()

Scale notes: micro-batch cadence should amortize the per-append fixed
costs (terms recompute + manifest round-trip) — minutes, not seconds;
n_shards is fixed at build time, so size it for the corpus you expect
AFTER growth (docs-per-shard ≲ 50M).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..fulltext.indexer import append_index, maybe_compact

CORPUS_COLUMNS = ("repo", "path", "commit", "lang", "content")


def stream_append(
    stream_df: DataFrame,
    index_dir: str,
    checkpoint: str,
    trigger_seconds: int | None = None,
    compact_every_appends: int | None = None,
    compact_tombstone_fraction: float | None = None,
):
    """Start a streaming query folding each micro-batch into the index.

    Returns the started StreamingQuery. Batches with zero new documents
    are no-ops (append_index's anti-join), so at-least-once replay after
    a crash is safe.

    ``compact_every_appends`` / ``compact_tombstone_fraction``: the merge
    policy (indexer.maybe_compact), checked after each fold — e.g.
    ``compact_every_appends=50`` rewrites the index tombstone-free with
    one segment per (term, shard) every 50 micro-batches. Compaction runs
    INSIDE foreachBatch, so the stream pauses for its duration — size the
    trigger cadence so an occasional merge fits, exactly like sizing
    Lucene's merge throttling. Readers stay correct throughout (staged
    swaps; tombstones deleted last).
    """
    if not stream_df.isStreaming:
        raise ValueError("stream_append expects a streaming DataFrame")
    missing = [c for c in CORPUS_COLUMNS if c not in stream_df.columns]
    if missing:
        raise ValueError(f"corpus stream is missing required columns {missing}")

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_index(batch_df.sparkSession, batch_df, index_dir)
        if compact_every_appends or compact_tombstone_fraction:
            maybe_compact(
                batch_df.sparkSession,
                index_dir,
                every_appends=compact_every_appends,
                tombstone_fraction=compact_tombstone_fraction,
            )

    writer = (
        stream_df.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
