"""Structured Streaming wrapper for incremental extraction (extra).

The reference has NO streaming operators (SURVEY.md §2.10): its async-task
layer is batch with polled progress.  The faithful re-expression is the
batch pipeline with resumable checkpoints.  This module is the additive
streaming path for users who ingest transcripts continuously: a
``readStream`` over an append-only transcripts directory/table, the batch
pipeline's own Arrow-batched kernel (``pipeline._extract_batches``, which
runs the one batch function ``pipeline.extract_rows``) per micro-batch, and
an append sink with exactly-once semantics via the streaming checkpoint.
A streamed turn therefore extracts to the same row as
``extract_transcripts`` and the resumable sink give for it.

The kernel is stateless per row, so no watermark/state store is needed --
late rows extract identically whenever they arrive.  On top of it this
module provides the two streaming shapes the batch layer's metrics
counters map to:

* ``windowed_turn_metrics`` — event-time windowed ingest metrics with a
  watermark for late turns (the streaming form of the lineage/progress
  tables);
* ``conversation_progress_stream`` — a CUSTOM STATEFUL operator via
  ``applyInPandasWithState``: per-conversation running totals that
  survive across micro-batches (the streaming analogue of the
  reference's polled Redis progress counters,
  /root/reference/src/task/project.py:36-40 — state lives in the
  engine's state store with exactly-once semantics instead of a TTL'd
  side channel).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .pipeline import _extract_batches, EXTRACTION_SCHEMA
from .schema import TRANSCRIPT_SCHEMA


def read_transcript_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 16
) -> DataFrame:
    """File-source stream over an append-only transcripts directory."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def extract_stream(transcripts: DataFrame) -> DataFrame:
    """Streaming extraction: the batch pipeline's kernel, per micro-batch.

    No pre-shuffle: a streaming repartition would force a stateful
    exchange; file-source micro-batches already bound partition size via
    maxFilesPerTrigger, and skew across conversations inside one
    micro-batch is bounded by the source file layout.
    """
    return transcripts.select("conv_id", "turn_idx", "text").mapInPandas(
        _extract_batches, schema=EXTRACTION_SCHEMA
    )


def windowed_turn_metrics(
    transcripts: DataFrame,
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Event-time windowed ingest metrics: per ts-window turn/char counts
    with a watermark bounding how long late turns are waited for.  At
    scale this is one partial+final streaming agg over the state store;
    the same expression works on a batch DataFrame (watermark ignored).
    """
    return (
        transcripts.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.length("text")).alias("n_chars"),
            F.approx_count_distinct("conv_id").alias("n_convs_approx"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_turns",
            "n_chars",
            "n_convs_approx",
        )
    )


_PROGRESS_OUT = (
    "conv_id string, n_turns long, n_chars long, max_turn_idx int"
)
_PROGRESS_STATE = "n_turns long, n_chars long, max_turn_idx int"


def conversation_progress_stream(
    transcripts: DataFrame, idle_timeout_min: int | None = None
) -> DataFrame:
    """Per-conversation running totals as a custom stateful operator
    (``applyInPandasWithState``): each micro-batch updates the
    conversation's state (turns seen, chars seen, highest turn index)
    and emits the refreshed snapshot.

    The state store gives exactly-once accumulation across restarts via
    the streaming checkpoint — the engine-native replacement for the
    reference's hand-maintained, TTL-expiring progress keys.  Use with
    ``outputMode("update")``.

    State retention: on an unbounded stream new conv_ids keep arriving,
    so state must be evicted or the store grows forever.  Set
    ``idle_timeout_min`` on production unbounded streams: a conversation
    idle that long (processing time) is dropped, like the reference's
    5-day Redis key TTL.  The default is ``None`` (keep state
    indefinitely) because ProcessingTimeTimeout makes the engine
    schedule continuous timeout-check micro-batches — correct on a
    long-running trigger'd stream, but it busy-loops drive-to-completion
    harnesses (``processAllAvailable``) and costs trigger churn on
    bounded-keyspace streams that don't need eviction.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_min
        else GroupStateTimeout.NoTimeout
    )

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            # idle conversation: drop the state, emit nothing
            state.remove()
            return
        n_turns, n_chars, max_t = (
            state.get if state.exists else (0, 0, -1)
        )
        for pdf in pdfs:
            n_turns += len(pdf)
            n_chars += int(pdf["text"].str.len().fillna(0).sum())
            if len(pdf):
                max_t = max(max_t, int(pdf["turn_idx"].max()))
        state.update((n_turns, n_chars, max_t))
        if idle_timeout_min:
            state.setTimeoutDuration(int(idle_timeout_min) * 60 * 1000)
        yield pd.DataFrame(
            {
                "conv_id": [key[0]],
                "n_turns": [n_turns],
                "n_chars": [n_chars],
                "max_turn_idx": [max_t],
            }
        )

    return transcripts.groupBy("conv_id").applyInPandasWithState(
        update,
        _PROGRESS_OUT,
        _PROGRESS_STATE,
        "update",
        timeout_conf,
    )


def first_seen_stream(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    idle_timeout_min: int | None = None,
) -> DataFrame:
    """Incremental streaming dedup: emit each document the FIRST time its
    whitespace-insensitive normalized-text digest (ops/curate.py
    ``normalized_digest``) is seen; duplicates arriving later — in the
    same micro-batch or any future one — are dropped.  The streaming
    counterpart of ``ops.curate.curate_corpus``'s exact-dedup stage for
    continuously-ingested corpora.  Use with ``outputMode("append")``.

    Why a custom stateful op instead of stock ``dropDuplicates``: the
    representative is deterministic (the min-``id_col`` doc within the
    first micro-batch that carries the digest, matching the batch
    operator's min-id rule, instead of whichever task wins a race), and
    the state store holds a one-byte VALUE per digest key instead of the
    full key row ``dropDuplicates`` keeps (both store the 64-hex digest
    key itself) — at 10^9 distinct documents that still halves-or-better
    the per-executor state footprint, but plan capacity from the key
    size, not the value size.

    State retention mirrors ``conversation_progress_stream``: default
    ``None`` keeps digests forever (eviction would re-admit duplicates);
    pass ``idle_timeout_min`` only when windowed dedup semantics are
    acceptable — and never on drive-to-completion harnesses, where
    ProcessingTimeTimeout busy-loops ``processAllAvailable``.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .ops.curate import normalized_digest

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_min
        else GroupStateTimeout.NoTimeout
    )
    keyed = docs.select(
        normalized_digest(F.col(text_col)).alias("_digest"),
        F.col(id_col),
        F.col(text_col),
    )
    out_schema = f"{id_col} long, {text_col} string"

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        best = None
        for pdf in pdfs:
            if len(pdf):
                row = pdf.loc[pdf[id_col].idxmin()]
                if best is None or int(row[id_col]) < best[0]:
                    best = (int(row[id_col]), row[text_col])
        if idle_timeout_min:
            state.setTimeoutDuration(int(idle_timeout_min) * 60 * 1000)
        if state.exists or best is None:
            return
        state.update((1,))
        yield pd.DataFrame({id_col: [best[0]], text_col: [best[1]]})

    return keyed.groupBy("_digest").applyInPandasWithState(
        update,
        out_schema,
        "seen byte",
        "append",
        timeout_conf,
    )


def start_extraction_stream(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """End-to-end stream: transcripts dir -> extraction parquet, resumable
    from the streaming checkpoint (exactly-once file sink)."""
    extracted = extract_stream(read_transcript_stream(spark, in_path))
    return (
        extracted.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .start()
    )
