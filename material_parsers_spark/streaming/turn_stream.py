"""Structured Streaming ingestion of transcript turns.

The reference has no streaming surface (SURVEY.md §2.11) — this is the
engine's scale path for continuously arriving transcripts: a file-source
stream of turn parquet, the same Arrow scalar-iterator extraction UDF as the
batch path (it keeps no state across batches, so it is streaming-safe), a
watermark for late turns, and a windowed per-slice rollup. Exactly-once delivery comes from the checkpointLocation; the batch
path's manifest/anti-join resume (pipeline/checkpoint.py) remains the
recovery story for backfills.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.extraction import run_extraction
from ..pipeline.schemas import TURNS_SCHEMA
from ..queries import _h


def read_turn_stream(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: int = 8) -> DataFrame:
    return (
        spark.readStream
        .schema(TURNS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def windowed_span_counts(extracted: DataFrame,
                         window_duration: str = "10 minutes",
                         watermark: str = "30 minutes") -> DataFrame:
    """Per-window span/material counts with late-data handling."""
    return (
        extracted
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("time_window"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.size("extraction.spans")).alias("n_spans"),
            F.sum(F.size("extraction.materials")).alias("n_materials"),
        )
        .select(
            F.col("time_window.start").alias("window_start"),
            F.col("time_window.end").alias("window_end"),
            "n_turns", "n_spans", "n_materials",
        )
    )


def run_stream_once(spark: SparkSession, input_dir: str, output_dir: str,
                    checkpoint_dir: str,
                    patterns: Optional[list] = None) -> None:
    """Drain all available input once (availableNow) into a parquet sink —
    the batch-incremental deployment mode (cron-driven micro-batch)."""
    extracted = run_extraction(read_turn_stream(spark, input_dir), patterns)
    flat = extracted.select(
        "conv_id", "turn_idx", "ts",
        F.col("extraction.spans").alias("spans"),
        F.col("extraction.materials").alias("materials"),
    )
    query = (
        flat.writeStream
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def streaming_exact_dedup(turns: DataFrame,
                          watermark: str = "30 minutes") -> DataFrame:
    """Streaming EXACT DEDUP: emit only the first occurrence of each
    turn text as the stream arrives — the online counterpart of the
    batch ``dedup_exact`` query (the same 60-bit md5-prefix text hash,
    ``queries._h``, so the two surfaces agree on what "identical" means).

    Scale shape: ``dropDuplicatesWithinWatermark`` keys the state store
    on the 16-byte hash, not the payload, and EVICTS seen-hash state
    older than the event-time watermark — state is bounded by the
    duplicate-arrival horizon instead of growing with the stream
    forever (the unbounded ``dropDuplicates`` trap). A duplicate
    arriving after the horizon re-emits; for transcript turns the
    near-simultaneous duplicate (retry storms, fan-out echo) is the
    case that matters, and the periodic batch dedup sweep remains the
    backstop for long-range duplicates."""
    text_hash = _h("text")
    return (
        turns
        .where(F.col("text").isNotNull())
        .withColumn("text_hash", text_hash)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )


def simhash64_col(text_expr: str = "text"):
    """64-bit SimHash fingerprint of a text column as PURE column
    algebra (streaming-safe, zero Python, zero shuffle): per-bit signed
    votes over the DISTINCT-word xxhash64 hashes (empty tokens from
    runs of whitespace filtered out), so the fingerprint is invariant
    to word order, repetition and re-whitespacing — two turns that are
    the same word SET collide exactly.  The converse is probabilistic:
    a small edit to a LONG turn moves each of the 64 majority counters
    by at most one vote and may flip no bit, so distinct texts can
    collide; this is inherent to SimHash-as-a-key and is the documented
    trade-off of the online tier (see streaming_near_dedup).

    Expression shape matters (the CollapseProject trap): every lambda
    references only its own arguments, and the word-hash array is a
    fold INPUT (evaluated once per evaluation of the fold, never per
    element). The counts array appears twice as an input below, so the
    fold runs twice per row — a constant factor, not the O(words x
    bits) re-evaluation the naive nested-reference shape produces.
    One fold accumulates 65 counters: set-bit counts for bits 0..63
    plus the word count in slot 65; a second pass turns majority votes
    into bits and assembles the fingerprint through an index-carrying
    struct accumulator."""
    counts = f"""
aggregate(
  transform(filter(array_distinct(split({text_expr}, ' ')), w -> w <> ''),
            w -> xxhash64(w)),
  array_repeat(0L, 65),
  (acc, h) -> zip_with(acc, sequence(0, 64),
                       (c, b) -> c + if(b = 64, 1L, shiftright(h, b) & 1))
)"""
    return F.expr(f"""
aggregate(
  zip_with(
    slice({counts}, 1, 64),
    array_repeat(element_at({counts}, 65), 64),
    (c, n) -> if(2 * c > n, 1L, 0L)
  ),
  named_struct('b', 0, 'acc', 0L),
  (s, bit) -> named_struct('b', s.b + 1, 'acc', s.acc + shiftleft(bit, s.b)),
  s -> s.acc
)""")


def streaming_near_dedup(turns: DataFrame,
                         watermark: str = "30 minutes") -> DataFrame:
    """Streaming NEAR dedup: emit only the first arrival of each
    bag-of-words-identical turn — the online tier between
    ``streaming_exact_dedup`` (byte-identical) and the batch MinHash
    suite (Jaccard-similar). Reordered, repeated or re-whitespaced
    echoes of a seen turn are duplicates here. The drop rule is
    FINGERPRINT equality, and both directions are approximate: a
    changed word usually flips bits on short turns but may flip none
    on a very long one (the edit moves each majority counter by at
    most one vote), so rare false drops of near-identical long turns
    are possible within the watermark horizon — acceptable for a
    dedup gate whose batch MinHash sweep re-adjudicates with real
    Jaccard similarity; deploy the exact variant instead where any
    false drop is unacceptable.

    Scale shape: the fingerprint is per-row column algebra (no
    shuffle, no Python); ``dropDuplicatesWithinWatermark`` keys the
    state store on the 8-byte fingerprint and evicts state older than
    the event-time watermark, so state is bounded by the
    duplicate-arrival horizon exactly as in the exact variant."""
    return (
        turns
        .where(F.col("text").isNotNull())
        .withColumn("simhash64", simhash64_col("text"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["simhash64"])
    )


CONV_STATE_OUTPUT = ("conv_id string, n_turns bigint, n_chars bigint, "
                     "last_ts timestamp, closed boolean")
CONV_STATE_SCHEMA = "n_turns bigint, n_chars bigint, last_ts_us bigint"


def conversation_state_updates(turns: DataFrame,
                               inactivity_ms: int = 600_000) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): accumulate
    per-conversation counters across micro-batches and close a
    conversation after an inactivity timeout.

    This is the streaming analog of the batch per-conversation rollup:
    state is (n_turns, n_chars, last event-time); every batch emits the
    updated running row, and a processing-time timeout emits a final
    ``closed`` row so downstream consumers can materialize finished
    conversations incrementally."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, batches, state: GroupState):
        (conv_id,) = key
        if state.hasTimedOut:
            n_turns, n_chars, last_us = state.get
            state.remove()
            yield pd.DataFrame({
                "conv_id": [conv_id], "n_turns": [n_turns],
                "n_chars": [n_chars],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
                "closed": [True],
            })
            return
        n_turns, n_chars, last_us = (
            state.get if state.exists else (0, 0, 0))
        for pdf in batches:
            n_turns += len(pdf)
            n_chars += int(pdf["text"].str.len().fillna(0).sum())
            batch_max = pd.to_datetime(pdf["ts"]).max()
            last_us = max(last_us, int(batch_max.value // 1_000))
        state.update((n_turns, n_chars, last_us))
        state.setTimeoutDuration(inactivity_ms)
        yield pd.DataFrame({
            "conv_id": [conv_id], "n_turns": [n_turns],
            "n_chars": [n_chars],
            "last_ts": [pd.Timestamp(last_us, unit="us")],
            "closed": [False],
        })

    return (
        turns.groupBy("conv_id")
        .applyInPandasWithState(
            update, CONV_STATE_OUTPUT, CONV_STATE_SCHEMA, "update",
            GroupStateTimeout.ProcessingTimeTimeout)
    )
